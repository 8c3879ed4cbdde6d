"""Tests for the training-data-pipeline operators (text / dedup /
similarity / multimodal / streaming) on the sf0.001 harness tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic2ts_spark.operators import dedup as D
from mimic2ts_spark.operators import similarity as S
from mimic2ts_spark.operators import text as X
from mimic2ts_spark.operators.multimodal import attach_media, extract_features
from mimic2ts_spark.operators.text import MOD

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_sql_sub_guards_drifted_targets():
    """r09 (ADVICE r08): oracle SQL composed by textual substitution
    must fail loudly when the target substring drifts — a silent no-op
    would gate the derived query against the RAW oracle."""
    import pytest

    from mimic2ts_spark.harness_ext import _sql_sub

    assert _sql_sub("SELECT a FROM t", "FROM t", "FROM u") == "SELECT a FROM u"
    with pytest.raises(AssertionError, match="substitution target drifted"):
        _sql_sub("SELECT a FROM t", "FROM missing", "FROM u")


def test_impacts_fingerprint_tracks_rewrites(tmp_path):
    """The memo fingerprint (which keys the term-impacts memo) must
    change when the artifact dir's contents change (in-place rebuild
    detection), and degrade gracefully on a missing dir."""
    from mimic2ts_spark.memo import fingerprint

    d = tmp_path / "imp"
    assert fingerprint(str(d)) == ("missing",)
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"aaa")
    f1 = fingerprint(str(d))
    (d / "part-0.parquet").write_bytes(b"bbbb")  # same name, new bytes
    f2 = fingerprint(str(d))
    assert f1 != f2


def test_fingerprint_sees_nested_partition_rewrite(tmp_path):
    """An in-place rewrite inside a `cid=3/` partition leaves the
    top-level listing (names, dir sizes and mtimes) unchanged; the
    fingerprint must still change."""
    import os

    from mimic2ts_spark.memo import fingerprint

    part = tmp_path / "postings" / "cid=3" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    part.write_bytes(b"aaa")
    os.utime(part, ns=(1, 1))
    f1 = fingerprint(str(tmp_path / "postings"))
    part.write_bytes(b"bbbb")
    assert fingerprint(str(tmp_path / "postings")) != f1


def test_read_memo_keeps_one_entry_per_path(spark, tmp_path):
    """k in-place rewrites of one path: every read sees the new bytes,
    and the memo holds one plan for the path, not k."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mimic2ts_spark import memo

    path = str(tmp_path / "t.parquet")
    os.makedirs(path)
    for k in range(1, 5):
        pq.write_table(
            pa.table({"x": list(range(k))}), os.path.join(path, "part-0.parquet")
        )
        assert memo.read_parquet(spark, path).count() == k
    assert sum(1 for key in memo._PLANS if key[1] == path) == 1


def test_memo_hit_runs_no_spark_job(spark):
    """A repeated call is served from the memos (artifact dir, then the
    resolved, spread plan) without one Spark job."""
    from mimic2ts_spark.harness_ext import _canon_docs

    sc = spark.sparkContext
    first = _canon_docs(spark, SF)
    sc.setJobGroup("memo_hit", "memo_hit")
    try:
        again = _canon_docs(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert again is first
    assert list(sc.statusTracker().getJobIdsForGroup("memo_hit")) == []


def test_artifact_rebuilds_when_output_or_input_changes(tmp_path):
    """memo.artifact builds once per input content; a deleted output
    dir or a rewritten input makes the next call rebuild."""
    import os
    import shutil

    from mimic2ts_spark import memo

    src = tmp_path / "src.txt"
    src.write_text("a")
    builds = []

    def build(out):
        builds.append(out)
        return out

    def get():
        return memo.artifact("test_artifact", [str(src)], build, str(tmp_path))

    out = get()
    assert get() == out and len(builds) == 1
    assert memo.BUILD_SECONDS[f"test_artifact:{tmp_path.name}"] >= 0
    shutil.rmtree(out)
    out2 = get()
    assert len(builds) == 2 and out2 != out and os.path.isdir(out2)
    src.write_text("bb")
    assert get() != out2 and len(builds) == 3


def test_token_count_matches_python(spark, docs):
    rows = docs.select("doc_id", "text", X.token_count(F.col("text")).alias("n")).take(20)
    for r in rows:
        assert r.n == len(r.text.split())


def test_quality_score_bounded(spark, docs):
    rows = docs.select(X.quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_fingerprint_deterministic_and_modular(spark, docs):
    a = docs.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))
    b = docs.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))
    assert a.collect() == b.collect()
    assert all(0 <= r.fp < MOD for r in a.collect())


def test_minhash_candidates_cover_true_pairs(spark, docs):
    """LSH candidates + verify must find the brute-force pairs (recall on
    the planted near-dups; the verify step guarantees precision)."""
    brute = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert lsh <= brute  # precision 1.0 by construction (exact verify)
    assert brute, "fixture should contain planted near-dup pairs"
    recall = len(lsh & brute) / len(brute)
    assert recall >= 0.9, f"LSH recall {recall}"


def test_ngram_boilerplate_demotion_exact_and_bounded(spark, docs):
    """Appending identical boilerplate to every doc is the adversarial
    case for prefix indexing (every doc shares frequent shingles). The
    hot-code demotion must (a) keep the output EXACTLY equal to the
    brute-force pair set at the threshold and (b) keep prefix posting
    lists off the boilerplate codes — pinned here by the pair set; the
    bucket-bound measurement lives in README 'Measured scaling'."""
    bp = (
        " this document is provided as is without warranty of any kind"
        " please review the terms and conditions before redistribution"
    )
    noisy = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(bp)).alias("text")
    ).where(F.col("doc_id") < 200)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            # mod=1 counts the full corpus; bound=50 docs < the 200-doc
            # boilerplate df, so demotion must trigger here
            noisy, threshold=0.8, hot_sample_mod=1, hot_df_bound=50
        ).collect()
    }
    # brute force on the same shingle codes
    base = D.with_shingle_codes(noisy, out="_sc").select(
        "doc_id", F.array_distinct(F.col("_sc")).alias("codes")
    )
    a, b = base.alias("a"), base.alias("b")
    brute = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            D.jaccard(F.col("a.codes"), F.col("b.codes")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.8)
        .collect()
    }
    assert got == brute
    assert brute, "boilerplate corpus should still contain true near-dups"


def test_simhash_flags_near_dups(spark, docs):
    near = D.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    if not near:
        pytest.skip("no >=0.9 pairs in fixture")
    sim = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_pairs(docs, max_hamming=D.SIMHASH_BITS).collect()
    }
    # a >=0.9-Jaccard pair should disagree on well under 20% of signature
    # bits (threshold scales with SIMHASH_BITS — it was 6 at 32 bits)
    limit = max(6, D.SIMHASH_BITS // 5)
    for r in near:
        assert sim[(r.doc_a, r.doc_b)] <= limit, (
            r.doc_a, r.doc_b, sim[(r.doc_a, r.doc_b)],
        )


def test_ann_lsh_recall_vs_bruteforce(spark, embs):
    queries = embs.where(F.col("vec_id") < 10)
    brute = S.brute_force_topk(embs, queries, k=5).collect()
    lsh = S.lsh_topk(embs, queries, k=5).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    lsh_sets = {}
    for r in lsh:
        lsh_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # every query must get candidates, and aggregate recall must be useful
    assert set(lsh_sets) == set(brute_sets)
    hits = sum(len(lsh_sets[q] & brute_sets[q]) for q in brute_sets)
    total = sum(len(brute_sets[q]) for q in brute_sets)
    assert hits / total >= 0.3, f"ANN recall {hits}/{total}"


def test_cosine_matches_numpy(spark, embs):
    import numpy as np

    two = embs.where(F.col("vec_id").isin(0, 1)).collect()
    v0 = np.array(two[0].embedding, dtype=np.float64)
    v1 = np.array(two[1].embedding, dtype=np.float64)
    expected = float(v0 @ v1 / (np.sqrt(v0 @ v0) * np.sqrt(v1 @ v1)))
    got = (
        S.embedding_near_dup_pairs(embs.where(F.col("vec_id").isin(0, 1)), threshold=-1.0)
        .collect()[0]
        .cosine
    )
    assert abs(got - expected) < 1e-12


def test_embedding_near_dup_broadcast_budget_enforced(spark, embs):
    """X5's exact all-pairs path is a BROADCAST algorithm: past the
    row budget it must raise (pointing at the X24/X203 LSH scale path)
    BEFORE collecting any vector bytes — a comment is not a guard
    (VERDICT r08 #5)."""
    import pytest

    with pytest.raises(ValueError, match="embedding_near_dup_pairs_lsh"):
        S.embedding_near_dup_pairs(embs, threshold=0.9, max_rows=10)
    # within budget the path is unchanged
    ok = S.embedding_near_dup_pairs(
        embs.where(F.col("vec_id") < 12), threshold=-1.0, max_rows=12
    )
    assert ok.count() == 12 * 11 // 2


def test_multimodal_features(spark, docs):
    """extract_features decodes the REAL container: payload stats equal
    the raw text bytes (codec roundtrip), and width/height are the
    DECODED PNG dims — the encoder's width-1 layout pins (1, n)."""
    feats = (
        extract_features(attach_media(docs)).where(F.col("doc_id") == 0).collect()[0]
    )
    text = docs.where(F.col("doc_id") == 0).collect()[0].text
    payload = text.encode("utf-8")
    assert feats.payload_len == len(payload)
    assert feats.checksum == sum(payload) % MOD
    assert len(feats.features) == 8
    assert feats.media_type == "image/png"
    assert (feats.width, feats.height) == (1, len(payload))


def test_multimodal_features_long_matches_stripes(spark, docs):
    """features_long posexplodes into scalar rows; values equal the
    stripe-mean byte math computed independently in Python over the
    DECODED payload (== raw text bytes by codec correctness)."""
    from mimic2ts_spark.operators.multimodal import features_long

    rows = (
        features_long(extract_features(attach_media(docs)))
        .where(F.col("doc_id") == 0)
        .orderBy("feature_idx")
        .collect()
    )
    payload = docs.where(F.col("doc_id") == 0).collect()[0].text.encode("utf-8")
    n = max(1, len(payload))
    stripe = max(1, n // 8)
    assert [r.feature_idx for r in rows] == list(range(8))
    for r in rows:
        chunk = payload[r.feature_idx * stripe : (r.feature_idx + 1) * stripe] or b"\x00"
        assert r.feature_value == float(sum(chunk)) / float(len(chunk))
        assert r.payload_len == len(payload)


def _brute_force_pairs(docs, threshold=0.8):
    """Independent Python reimplementation of the ngram-Jaccard
    semantics (no prefix filtering, no demotion — plain all-pairs), as
    a check on the AllPairs machinery that does NOT share its pruning
    theorem with the implementation (the DuckDB oracle now does)."""
    import hashlib
    import re

    MOD = 1_000_000_007

    def codes_of(text):
        toks = re.split(r"\s+", text, flags=re.ASCII)
        tc = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % MOD for t in toks
        ]
        out = set()
        for i in range(len(tc) - 2):
            k = tc[i]
            for r in (1, 2):
                k = (k * 131 + tc[i + r]) % MOD
            out.add(k)
        return out

    sets = {
        i: codes_of(t)
        for i, t in docs
        if len(re.split(r"\s+", t, flags=re.ASCII)) >= 3
    }
    pairs = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= threshold:
                pairs[(a, b)] = j
    return pairs


def test_ngram_allpairs_matches_python_bruteforce(spark):
    """Property: the prefix-filtered + hot-demoted + positional-pruned
    AllPairs implementation must equal a plain Python all-pairs scan on
    a randomized corpus with planted near-dup structure."""
    import random

    from mimic2ts_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(40):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25)))))
    # planted near-dups: copies with 0-2 token mutations
    for i in range(40, 60):
        base_id, base = docs[rng.randrange(40)]
        toks = base.split()
        for _ in range(rng.randint(0, 2)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs.append((i, " ".join(toks)))

    expected = _brute_force_pairs(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.8).collect()
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-12, k

    # the probabilistic variant may MISS pairs but must never invent or
    # mis-score one
    from mimic2ts_spark.operators.dedup import minhash_lsh_pairs

    mh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(df, threshold=0.8).collect()
    }
    assert set(mh) <= set(expected)
    for k, v in mh.items():
        assert abs(expected[k] - v) < 1e-12, k


def test_incremental_dedup_emits_only_cross_pairs(spark):
    """(new, existing) pairs only: a new-new duplicate pair and an
    old-old duplicate pair must NOT appear; a new doc duplicating an
    old doc must."""
    from mimic2ts_spark.operators.dedup import incremental_ngram_pairs

    txt = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (10, txt), (20, txt),          # new + new  -> no pair
            (1, txt),                       # old dup of 10/20 -> pairs
            (3, "one two three four five six seven"),
            (7, "one two three four five six seven"),  # old+old -> no pair
        ],
        "doc_id long, text string",
    )
    out = incremental_ngram_pairs(df, is_new=(F.col("doc_id") % 10 == 0)).collect()
    got = {(r.doc_new, r.doc_old) for r in out}
    assert got == {(10, 1), (20, 1)}
    assert all(r.jaccard == 1.0 for r in out)


def test_incremental_dedup_empty_sides(spark):
    """No new docs (or no corpus docs) → empty pair set, no crash."""
    from mimic2ts_spark.operators.dedup import incremental_ngram_pairs

    df = spark.createDataFrame(
        [(1, "one two three four five"), (3, "six seven eight nine ten")],
        "doc_id long, text string",
    )
    assert incremental_ngram_pairs(df, is_new=(F.col("doc_id") % 2 == 0)).count() == 0
    assert incremental_ngram_pairs(df, is_new=(F.col("doc_id") > 0)).count() == 0


def test_connected_components_empty_edges_terminates(spark):
    """An empty pair set must return an empty labeling quickly (the
    convergence check may run one extra empty round, never max_iter)."""
    import time

    from mimic2ts_spark.operators.cluster import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long, jaccard double")
    t0 = time.time()
    assert connected_components(pairs).count() == 0
    assert time.time() - t0 < 30


def test_pack_sequences_layout(spark):
    """Concat-then-chunk semantics: offsets accumulate in doc_id order
    within a shard, seq_idx advances every PACK_BUDGET tokens, and a
    doc starting before a boundary straddles it (start offset keeps
    the doc in its starting sequence)."""
    from mimic2ts_spark import harness
    from mimic2ts_spark import harness_ext as HE  # after harness: avoids circular import

    fn, _ = harness.REGISTRY["q_pack_sequences"]
    rows = {
        r.doc_id: (r.shard, r.seq_idx, r.seq_offset)
        for r in fn(spark, "/root/testdata/sf0.001").collect()
    }
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").collect()
    from collections import defaultdict
    cum = defaultdict(int)
    for d in sorted(docs, key=lambda d: d.doc_id):
        shard = d.doc_id % HE.PACK_SHARDS
        start = cum[shard]
        assert rows[d.doc_id] == (
            shard, start // HE.PACK_BUDGET, start % HE.PACK_BUDGET
        ), d.doc_id
        cum[shard] += len(d.text.split())


def test_wav_png_codecs_roundtrip():
    """Stdlib codecs: WAV and PNG containers must roundtrip arbitrary
    byte payloads exactly — including PNG widths > 1 (exercising the
    Sub/Average/Paeth left-neighbor arithmetic) and every filter type
    (encode_png cycles filters 0..4 across rows)."""
    import zlib

    from mimic2ts_spark.operators.multimodal import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav,
    )

    payloads = [
        bytes(range(256)),
        b"\x00" * 10,
        b"\xff\x00" * 33,
        bytes((i * 37 + 11) % 256 for i in range(1000)),
    ]
    for p in payloads:
        got = decode_wav(encode_wav(p))
        assert got["payload"] == p and got["sample_width"] == 1
        one = decode_png(encode_png(p, width=1))
        assert one["payload"] == p and one["width"] == 1 and one["height"] == len(p)
    wide = bytes((i * 73 + 5) % 256 for i in range(12 * 50))
    got = decode_png(encode_png(wide, width=12))
    assert got["payload"] == wide and (got["width"], got["height"]) == (12, 50)

    from mimic2ts_spark.operators.multimodal import decode_avi, encode_avi

    for p in payloads:
        if not p:
            continue
        avi = decode_avi(encode_avi(p, frame_bytes=64))
        assert avi["payload"] == p
        assert avi["n_frames"] == (len(p) + 63) // 64
        assert all(len(f) == 64 for f in avi["frames"][:-1])
    # odd-length frames exercise RIFF even-byte padding
    odd = bytes(range(7)) * 3
    assert decode_avi(encode_avi(odd, frame_bytes=7))["payload"] == odd

    # corrupt one IDAT byte -> CRC check must reject, not decode garbage
    enc = bytearray(encode_png(bytes(range(100)), width=10))
    idat_at = bytes(enc).index(b"IDAT") + 4
    enc[idat_at + 3] ^= 0xFF
    try:
        decode_png(bytes(enc))
        raise AssertionError("tampered PNG must not decode")
    except (ValueError, zlib.error):
        pass


def test_codec_roundtrip_property():
    """Property: every container codec roundtrips arbitrary non-empty
    byte payloads exactly (hypothesis-driven — catches filter/padding
    edge cases the fixed vectors miss)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mimic2ts_spark.operators.multimodal import (
        decode_avi,
        decode_png,
        decode_wav,
        encode_avi,
        encode_png,
        encode_wav,
    )

    @given(st.binary(min_size=1, max_size=2048))
    @settings(max_examples=60, deadline=None)
    def check(payload):
        assert decode_wav(encode_wav(payload))["payload"] == payload
        assert decode_png(encode_png(payload))["payload"] == payload
        assert decode_avi(encode_avi(payload, frame_bytes=17))["payload"] == payload

    check()


def test_decode_real_codec_routing():
    """decode_real: stdlib formats decode without any extra; compressed
    codecs route to PyAV when importable, otherwise raise the documented
    NotImplementedError naming the optional extra (never a bare
    ImportError escaping the boundary)."""
    import pytest

    from mimic2ts_spark.operators.multimodal import decode_real, encode_wav

    assert decode_real(encode_wav(b"abc"), "audio/wav")["payload"] == b"abc"

    try:
        import av  # noqa: F401

        have_av = True
    except ImportError:
        have_av = False

    jpeg_ish = b"\xff\xd8\xff\xe0" + b"\x00" * 32  # header only, not decodable
    if not have_av:
        with pytest.raises(NotImplementedError, match="av"):
            decode_real(jpeg_ish, "image/jpeg")
    else:  # pragma: no cover - container has no av
        with pytest.raises(Exception):  # real av rejects the truncated body
            decode_real(jpeg_ish, "image/jpeg")


try:
    import av as _av  # noqa: F401 — optional extra

    _HAVE_AV = True
except ImportError:
    _HAVE_AV = False


@pytest.mark.skipif(not _HAVE_AV, reason="optional PyAV extra not installed")
def test_pyav_compressed_decode_real_payload():
    """POSITIVE path for the optional PyAV seam (r05 verdict item 6):
    with `av` importable, decode_real must actually decode a genuinely
    compressed payload — an mjpeg frame encoded via av itself — into
    the decoder-dict contract (dims of the encoded frame, payload =
    w·h·3 RGB bytes), so the optional path can't rot unnoticed in
    environments that do ship the extra."""
    import io

    import av
    import numpy as np

    from mimic2ts_spark.operators.multimodal import decode_real

    w, h = 16, 8
    arr = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    buf = io.BytesIO()
    with av.open(buf, "w", format="mjpeg") as c:
        st = c.add_stream("mjpeg", rate=1)
        st.width, st.height = w, h
        st.pix_fmt = "yuvj420p"
        frame = av.VideoFrame.from_ndarray(arr, format="rgb24")
        for pkt in st.encode(frame):
            c.mux(pkt)
        for pkt in st.encode():
            c.mux(pkt)
    content = buf.getvalue()
    assert content[:2] == b"\xff\xd8"  # a real JPEG came out

    d = decode_real(content, "image/jpeg")
    assert (d["width"], d["height"]) == (w, h)
    assert len(d["payload"]) == w * h * 3  # decoded RGB buffer, not the container


def test_decode_features_roundtrip_flags(spark, docs):
    """decode_features over real containers: every row roundtrips and
    the features equal the fake-decode of the raw payload (decoded
    payload == payload by codec correctness)."""
    from mimic2ts_spark.operators.multimodal import (
        _fake_decode,
        attach_media,
        decode_features,
    )

    out = decode_features(attach_media(docs.limit(30))).collect()
    assert out and all(r.roundtrip_ok for r in out)
    texts = {r.doc_id: r.text for r in docs.limit(30).collect()}
    for r in out:
        assert r.payload_len == len(texts[r.doc_id].encode())
        assert r.features == _fake_decode(texts[r.doc_id].encode())
        if r.media_type == "image/png":
            assert r.container_len > r.payload_len  # real container overhead


def test_stream_clamp_equals_batch_bucket_mean(spark):
    """The drained streaming clamp (stream-static stay join + stateful
    integer-cents bucket mean) must equal the batch q_agg_mean_bucket
    exactly — same clamp/late-drop semantics, order-independent sums."""
    from mimic2ts_spark import harness
    from mimic2ts_spark.streaming import run_clamped_bucket_available_now

    stream_rows = {
        (r.user_id, r.event_type, r.tidx): (r.mean_value, r.n_events)
        for r in run_clamped_bucket_available_now(spark, SF).collect()
    }
    batch_rows = {
        (r.user_id, r.event_type, r.tidx): (r.mean_value, r.n_events)
        for r in harness.q_agg_mean_bucket(spark, SF).collect()
    }
    assert stream_rows == batch_rows
    assert stream_rows, "fixture should produce buckets"


def test_stream_tumbling_equals_batch(spark):
    from mimic2ts_spark.streaming import run_tumbling_available_now

    out = run_tumbling_available_now(spark, SF)
    total_stream = out.agg(F.sum("n_events")).collect()[0][0]
    total_batch = spark.read.parquet(f"{SF}/events.parquet").count()
    assert total_stream == total_batch


def test_stream_sliding_append_watermark_withholds_tail(spark):
    """Append mode + watermark: every emitted window has
    window_end <= max(ts) - delay, events double-count across the 2h/1h
    overlap, and the trailing open windows are withheld."""
    from mimic2ts_spark.streaming import SLIDE_DELAY_SECONDS, run_sliding_available_now

    out = run_sliding_available_now(spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    # type-agnostic max event time in epoch seconds (ts may read as
    # TIMESTAMP_NTZ under Spark 4 or long nanos under nanosAsLong)
    ts = F.col("ts")
    if dict(ev.dtypes)["ts"] == "bigint":
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    max_sec = ev.agg(F.max(ts.cast("timestamp").cast("double"))).collect()[0][0]
    wm_sec = max_sec - SLIDE_DELAY_SECONDS
    assert out and all(r.window_start + 7200 <= wm_sec for r in out)
    # each event lands in exactly 2 windows; only closed windows emit,
    # so the emitted total is <= 2x rows and > 0
    total = sum(r.n_events for r in out)
    assert 0 < total <= 2 * ev.count()


def test_events_ts_ntz_contract_and_stream_cast(spark):
    """Pin the Spark-4 NTZ inference contract: the events parquet `ts`
    (physical timestamp[us], no timezone) reads as TIMESTAMP_NTZ in
    batch, and `withWatermark` rejects NTZ — so `events_stream` MUST
    hand out TIMESTAMP (with local time zone). If a future Spark default
    flips the inference, this test localizes the break instead of three
    streaming queries throwing EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE."""
    from pyspark.sql import types as T

    from mimic2ts_spark.streaming import events_stream

    batch_t = spark.read.parquet(f"{SF}/events.parquet").schema["ts"].dataType
    assert isinstance(batch_t, (T.TimestampNTZType, T.LongType))
    stream_t = events_stream(spark, SF).schema["ts"].dataType
    assert type(stream_t) is T.TimestampType


def test_events_stream_rejects_mixed_ts_landing_dir(tmp_path):
    """A landing dir mixing TIMESTAMP(MICROS) and long-ns `ts` files must
    raise up front (one-time schema inference would misread one variant)."""
    import pandas as pd
    import pytest

    from mimic2ts_spark.streaming import _assert_uniform_ts_type

    micros = pd.DataFrame(
        {"ts": pd.to_datetime([3600_000_000], unit="us").astype("datetime64[us]")}
    )
    nanos = pd.DataFrame({"ts": [3600 * 10**9]})
    micros.to_parquet(tmp_path / "a.parquet")
    nanos.to_parquet(tmp_path / "b.parquet")
    with pytest.raises(ValueError, match="mixed `ts` parquet types"):
        _assert_uniform_ts_type(str(tmp_path))
    # a uniform dir passes
    micros.to_parquet(tmp_path / "b.parquet")
    _assert_uniform_ts_type(str(tmp_path))


def test_events_stream_micros_ts_fixture(spark, tmp_path):
    """A landing dir whose `ts` is physical TIMESTAMP(MICROS) must take
    the no-rebuild branch of events_stream (no `div 1000`) and still
    drain to correct tumbling sums — covers the branch the sfX testdata
    exercises, with values asserted end-to-end."""
    import pandas as pd

    from mimic2ts_spark.streaming import run_tumbling_available_now

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                [3600_000_000, 3660_000_000, 7200_000_000], unit="us"
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 2],
            "event_type": ["x", "x", "y"],
            "value": [1.5, 2.25, 4.0],
            "props": ["", "", ""],
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    out = {
        (r.window_start, r.event_type): (r.sum_value, r.n_events)
        for r in run_tumbling_available_now(spark, str(tmp_path)).collect()
    }
    assert out == {(3600, "x"): (3.75, 2), (7200, "y"): (4.0, 1)}


def test_stream_sessionize_merges_state_across_batches(spark, tmp_path):
    """A session split across two microbatches must merge through the
    applyInPandasWithState state row and emit exactly once (flushed by the
    stream-drain timeout), alongside a session closed by a gap."""
    import pandas as pd
    import uuid as _uuid

    from mimic2ts_spark.streaming import (
        EVENTS_STREAM_SCHEMA,
        _drain_stateful,
        sessionize_stream,
    )

    def _file(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
        pdf.to_parquet(tmp_path / name)

    NS = 10**9
    # batch a: user 1 events at t=1000s,1100s; batch b: t=1200s (same
    # session, arrives later) and t=9999s (gap > 1800 → second session).
    _file("a.parquet", [(1, 1000 * NS, 1, "x", 1.0, ""), (2, 1100 * NS, 1, "x", 2.0, "")])
    _file("b.parquet", [(3, 1200 * NS, 1, "x", 4.0, ""), (4, 9999 * NS, 1, "x", 8.0, "")])

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path))
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = _drain_stateful(
        spark, sessionize_stream(stream), f"sess_test_{_uuid.uuid4().hex[:6]}"
    ).orderBy("session_start").collect()

    assert [(r.session_start, r.session_end, r.n_events, r.sum_value) for r in out] == [
        (1000, 1200, 3, 7.0),
        (9999, 9999, 1, 8.0),
    ]


def test_stream_checkpoint_resume_exactly_once(spark, tmp_path):
    """Restart semantics: a file-sink stream stopped after batch A and
    restarted from the SAME checkpoint after batch B lands must emit
    A ∪ B exactly once (the parquet sink's commit log dedups replayed
    batches) — the recovery contract a production ingest job relies
    on."""
    import pandas as pd

    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    src.mkdir()

    def _file(name, ids):
        pd.DataFrame({"doc_id": ids, "text": [f"doc {i}" for i in ids]}).to_parquet(
            src / name
        )

    def _run():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _file("a.parquet", [1, 2, 3])
    _run()
    got_a = sorted(r.doc_id for r in spark.read.parquet(str(sink)).collect())
    assert got_a == [1, 2, 3]

    _file("b.parquet", [4, 5])
    _run()
    got_ab = sorted(r.doc_id for r in spark.read.parquet(str(sink)).collect())
    assert got_ab == [1, 2, 3, 4, 5], "replay must not duplicate batch A"


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame(
        [(1, "don't x2!"), (2, ""), (3, "  hello   world  "), (4, "a1b2")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", X.bpe_ish_token_count(F.col("text")).alias("n")
        ).collect()
    }
    # don / ' / t / x / 2 / ! = 6; empty = 0; words = 2; a/1/b/2 = 4
    assert got == {1: 6, 2: 0, 3: 2, 4: 4}


def test_hash_split_stable_and_complete(spark):
    """Split labels are a pure function of the id (stable under
    re-partitioning/appends), cover every row, and roughly honor the
    80/10/10 cuts."""
    from mimic2ts_spark.operators.split import with_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = with_split(df, "doc_id")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert 0.7 < counts["train"] / 2000 < 0.9
    # determinism: same ids appended again land in the same splits
    again = with_split(df.union(df), "doc_id").distinct()
    assert again.count() == out.distinct().count()


def test_chunk_docs_window_semantics(spark):
    """50/40 windows: a 45-token doc yields starts 1 and 41 (short
    tail), a 120-token doc yields starts 1/41/81 with sizes 50/50/40;
    chunk_idx derives from start, not row order."""
    from mimic2ts_spark.operators.text import chunk_docs

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(45))),
         (2, " ".join(f"u{i}" for i in range(120))),
         (3, "solo")],
        "doc_id long, text string",
    )
    out = chunk_docs(docs)
    got = {(r.doc_id, r.chunk_idx): (r.start_tok, r.n_chunk_tokens) for r in out.collect()}
    assert got == {
        (1, 0): (1, 45), (1, 1): (41, 5),
        (2, 0): (1, 50), (2, 1): (41, 50), (2, 2): (81, 40),
        (3, 0): (1, 1),
    }


def test_hist_quantiles_within_bucket_width_of_exact(spark):
    """The histogram estimate must land within one bucket width of the
    exact interpolated percentile — the contract that lets the sketch
    replace q_quantiles at scale."""
    from mimic2ts_spark import harness

    sf = "/root/testdata/sf0.001"
    exact = {r.event_type: r for r in harness.q_quantiles(spark, sf).collect()}
    hist = {r.event_type: r for r in harness.q_quantiles_hist(spark, sf).collect()}
    assert exact.keys() == hist.keys()
    for et, h in hist.items():
        e = exact[et]
        for hp, ep in ((h.h25, e.p25), (h.h50, e.p50), (h.h75, e.p75)):
            assert abs(hp - ep) <= harness.HIST_WIDTH, (et, hp, ep)


# --- round-4 operators: search / decontamination / diff / analytics --------


def test_bm25_hand_computed_score(spark):
    """Integer-exact BM25 on a 3-doc corpus, scores checked against the
    hand-evaluated exact-rational formula (SCALE=1e5, k1=6/5, b=3/4)."""
    from mimic2ts_spark.operators.search import SCALE, bm25_topk

    rows = [(1, "cat dog cat"), (2, "dog fish"), (3, "bird bird bird")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.score_scaled for r in bm25_topk(df, ("cat",), k=10).collect()}
    # N=3, S=8, df(cat)=1, doc 1: tf=2, dl=3
    n, s_tot, dfreq, tf, dl = 3, 8, 1, 2, 3
    idf = (SCALE * (2 * (n - dfreq) + 1)) // (2 * dfreq + 1)
    tfp = (SCALE * 22 * s_tot * tf) // (10 * s_tot * tf + 3 * s_tot + 9 * dl * n)
    assert out == {1: idf * tfp}


def test_bm25_ranking_prefers_rare_term_and_short_doc(spark):
    from mimic2ts_spark.operators.search import bm25_topk

    rows = [
        (1, "common rare"),
        (2, "common common common common"),
        (3, "common filler filler filler filler filler filler filler"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [r.doc_id for r in bm25_topk(df, ("common", "rare"), k=3).collect()]
    # doc 1 hits the rare term; doc 2 beats doc 3 (higher tf, shorter)
    assert got == [1, 2, 3]


def test_benchmark_contamination_flags_only_overlapping_doc(spark):
    from mimic2ts_spark.operators.search import benchmark_contamination

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta epsilon y"),  # shares 5-grams
            (2, "alpha beta gamma delta"),  # only 4 tokens past filter? no: 4 < 5 → dropped
            (3, "totally different words here now ok"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.n_grams, r.n_shared_grams) for r in
           benchmark_contamination(train, bench).collect()}
    # doc 1 has 3 distinct 5-grams; exactly one ("alpha beta gamma delta
    # epsilon") appears among the benchmark doc's 2 grams
    assert out == {1: (3, 1)}


def test_snapshot_diff_statuses(spark):
    from mimic2ts_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "was this"), (3, "gone")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "now this"), (4, "fresh")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_funnel_click_before_view_does_not_convert(spark, tmp_path):
    """A click that precedes the first view must not count as step 2."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5],
            "ts": pd.to_datetime(
                [1000, 2000, 3000, 4000, 5000], unit="s"
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 2, 2, 2],
            "event_type": ["click", "view", "view", "click", "purchase"],
            "value": [0.0] * 5,
            "props": [""] * 5,
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    from mimic2ts_spark import harness_ext as E

    out = {r.user_id: (r.t_view, r.t_click, r.t_purchase, r.stage)
           for r in E.q_event_funnel(spark, str(tmp_path)).collect()}
    assert out == {
        1: (2000, None, None, 1),   # click at 1000 precedes the view
        2: (3000, 4000, 5000, 3),
    }


def test_retention_cohort_offsets(spark, tmp_path):
    import pandas as pd

    wk = 604_800
    pdf = pd.DataFrame(
        {
            "event_id": range(1, 6),
            "ts": pd.to_datetime(
                [0, wk, 3 * wk, wk, wk + 1], unit="s"
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 1, 2, 2],
            "event_type": ["view"] * 5,
            "value": [0.0] * 5,
            "props": [""] * 5,
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    from mimic2ts_spark import harness_ext as E

    out = {(r.cohort_week, r.week_offset): r.n_users
           for r in E.q_retention_cohort(spark, str(tmp_path)).collect()}
    # user 1: cohort 0, active weeks {0,1,3}; user 2: cohort 1, active {1}
    assert out == {(0, 0): 1, (0, 1): 1, (0, 3): 1, (1, 0): 1}


def test_embedding_normalize_bounds_and_constant_dim(spark):
    from mimic2ts_spark import harness_ext as E

    out = E.q_embedding_normalize(spark, SF)
    mn, mx = out.agg(F.min("v_norm"), F.max("v_norm")).first()
    assert 0.0 <= mn and mx <= 1.0
    # every non-constant dim attains both 0 and 1
    per_dim = out.groupBy("dim").agg(F.min("v_norm").alias("lo"),
                                     F.max("v_norm").alias("hi")).collect()
    assert all(r.lo == 0.0 and r.hi in (0.0, 1.0) for r in per_dim)


def test_span_dedup_identity_on_unique_corpus(spark):
    """No cross-doc span repeats -> every doc rebuilds to its exact
    original text with zero drops (the rebuild-order contract)."""
    from mimic2ts_spark.operators.dedup import span_dedup

    rows = [
        (1, " ".join(f"a{i}" for i in range(13))),
        (2, " ".join(f"b{i}" for i in range(7))),
        (3, " ".join(f"c{i}" for i in range(5))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(df).collect()}
    for doc_id, text in rows:
        assert out[doc_id]["clean_text"] == text
        assert out[doc_id]["n_dropped"] == 0


def test_span_dedup_drops_shared_spans_everywhere(spark):
    """A span shared by two docs disappears from BOTH; a doc that is
    pure boilerplate still emits a row with empty clean_text."""
    from mimic2ts_spark.operators.dedup import span_dedup

    boiler = "x0 x1 x2 x3 x4"  # exactly one 5-token span
    rows = [
        (1, boiler + " " + " ".join(f"a{i}" for i in range(5))),
        (2, boiler + " " + " ".join(f"b{i}" for i in range(5))),
        (3, boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(df).collect()}
    assert out[1]["clean_text"] == "a0 a1 a2 a3 a4" and out[1]["n_dropped"] == 1
    assert out[2]["clean_text"] == "b0 b1 b2 b3 b4" and out[2]["n_dropped"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0


def test_pagerank_cycle_and_star_exact(spark):
    """Integer PageRank ground truths: on a directed cycle every node
    keeps exactly SCALE mass each round; on a 2-leaf star the hub/leaf
    ranks follow the hand-unrolled integer recurrence."""
    from mimic2ts_spark.operators.graph import PR_SCALE, pagerank_scaled

    cycle = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    prs = {r["node"]: r["pr_scaled"] for r in pagerank_scaled(cycle).collect()}
    assert prs == {1: PR_SCALE, 2: PR_SCALE, 3: PR_SCALE}

    # leaves 2,3 -> hub 1; hub -> leaf 2. Hand-unroll 3 rounds.
    star = spark.createDataFrame(
        [(2, 1), (3, 1), (1, 2)], "src long, dst long"
    )
    base = (15 * PR_SCALE) // 100
    pr = {1: PR_SCALE, 2: PR_SCALE, 3: PR_SCALE}
    for _ in range(3):
        pr = {
            1: base + (85 * (pr[2] + pr[3])) // 100,
            2: base + (85 * pr[1]) // 100,
            3: base,
        }
    got = {r["node"]: r["pr_scaled"] for r in pagerank_scaled(star).collect()}
    assert got == pr


def test_transition_edges_deterministic_under_tied_order(spark):
    """Rows tied on the full order key but equal in the node column must
    not change the edge set (the determinism contract the harness query
    relies on for the duplicate-(orderkey,linenumber) testdata)."""
    from mimic2ts_spark.operators.graph import build_transition_edges

    rows = [
        (1, 10, 100), (1, 10, 100), (1, 20, 200), (1, 20, 100),
        (2, 10, 300), (2, 20, 300),
    ]
    df = spark.createDataFrame(rows, "grp long, ord long, node long")
    edges = {
        (r["src"], r["dst"])
        for r in build_transition_edges(df, "grp", "node", ["ord", "node"]).collect()
    }
    # grp 1 ordered: (10,100),(10,100),(20,100),(20,200) -> 100,100,100,200
    # (self-loops dropped); grp 2: 300,300 -> self-loop only
    assert edges == {(100, 200)}


def test_incremental_merge_equals_full_recompute(spark):
    """State-merge over an arbitrary split == single-pass aggregate —
    including keys present on only one side of the split."""
    from mimic2ts_spark.operators.incremental import (
        merge_mean_states,
        partial_mean_state,
    )

    rows = [(1, "a", 1.25), (1, "a", 2.75), (1, "b", 3.0), (2, "a", -1.5)]
    df = spark.createDataFrame(rows, "k long, t string, value double")
    old = partial_mean_state(df.where("value < 2"), ["k", "t"])
    delta = partial_mean_state(df.where("value >= 2"), ["k", "t"])
    got = {
        (r["k"], r["t"]): (r["n"], r["sum_cents"], r["mean"])
        for r in merge_mean_states(old, delta, ["k", "t"]).collect()
    }
    assert got == {
        (1, "a"): (2, 400, 2.0),
        (1, "b"): (1, 300, 3.0),
        (2, "a"): (1, -150, -1.5),
    }


def test_ema_fold_matches_python(spark):
    """The JVM fold reproduces the left-to-right Python recurrence
    bit-for-bit."""
    from mimic2ts_spark.operators.time_ops import ema_final

    vals = [3.0, 1.5, -2.25, 10.0, 0.125]
    df = spark.createDataFrame([(vals,)], "v array<double>")
    got = df.select(ema_final(F.col("v")).alias("e")).collect()[0]["e"]
    ema = 0.0
    for v in vals:
        ema = ema + (v - ema) * (1 / 8)
    assert got == ema  # exact float equality, fixed op order


def test_zorder_buckets_are_local_in_both_dims(spark):
    """Data-skipping contract: with 256 top-bit buckets over a uniform
    grid, every bucket's span in EACH dimension is <= 1/16 of that
    dimension's range (top 8 key bits = 4 high bits per dim)."""
    from mimic2ts_spark.operators.layout import zorder_bucket_stats

    rows = [(a, b) for a in range(0, 512, 8) for b in range(0, 128, 2)]
    df = spark.createDataFrame(rows, "a long, b long")
    stats = zorder_bucket_stats(df, "a", "b", 8).collect()
    a_span = 511 / 16 + 8  # normalization floor slack of one grid step
    b_span = 127 / 16 + 2
    for r in stats:
        assert r["a_max"] - r["a_min"] <= a_span, r
        assert r["b_max"] - r["b_min"] <= b_span, r


def test_stream_kmv_equals_batch_sketch(spark):
    """The drained streaming sketch must bit-equal the batch KMV
    operator: state = the sketch, so batching can't change the result."""
    from mimic2ts_spark.operators.sketch import kmv_sketch
    from mimic2ts_spark.streaming import run_kmv_available_now

    got = {
        r["event_type"]: (r["n_kept"], r["kth_code"], r["est_distinct"])
        for r in run_kmv_available_now(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    want = {
        r["event_type"]: (r["n_kept"], r["kth_code"], r["est_distinct"])
        for r in kmv_sketch(ev, ["event_type"], "user_id").collect()
    }
    assert got == want


def test_stream_cms_equals_batch_counters(spark):
    """The drained streaming CMS counter table must bit-equal the batch
    sketch at the same width: counters are additive, so no microbatch
    split can change any (j, bucket) count."""
    from mimic2ts_spark.operators.sketch import cms_counters
    from mimic2ts_spark.streaming import CMS_STREAM_WIDTH, run_cms_available_now

    got = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in run_cms_available_now(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    want = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in cms_counters(ev, "user_id", CMS_STREAM_WIDTH).collect()
    }
    assert got == want


def test_pq_adc_duplicate_of_query_identity(spark):
    """PQ contract on real vectors: for an exact DUPLICATE of the query
    vector, the ADC distance equals that vector's own quantization
    distortion (both measure query-subvector -> assigned-centroid), and
    the duplicate ranks at the top of the ADC result."""
    from pyspark.sql import functions as F

    from mimic2ts_spark.operators.pq import pq_adc_topk, pq_encode

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = vecs.orderBy("vec_id").limit(1).collect()[0]
    dup_id = 10**9
    dup = spark.createDataFrame(
        [(dup_id, q["embedding"])], "vec_id long, embedding array<float>"
    )
    both = vecs.select("vec_id", "embedding").unionByName(dup)

    enc = {r["vec_id"]: r for r in pq_encode(both).collect()}
    top = pq_adc_topk(both).collect()
    assert top[0]["vec_id"] == dup_id, top[:3]
    assert top[0]["adc_dist2"] == enc[dup_id]["distortion"]
    # every ADC distance is a non-negative integer
    assert all(r["adc_dist2"] >= 0 for r in top)


def test_kmeans_kernel_matches_crossjoin(spark, monkeypatch):
    """The large-k numpy assignment kernel must BIT-EQUAL the broadcast
    crossJoin+struct-min path on the same data and k — integer distances
    are associative, and argmin's first-minimum tie-break must reproduce
    the (d, cid) lexicographic struct-min. Run the full Lloyd iteration
    both ways at a k above the kernel threshold."""
    from mimic2ts_spark.operators import kmeans as KM

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    k = max(KM.KM_KERNEL_MIN_K, 40)

    kernel = {
        (r["vec_id"]): (r["cid"], r["d"])
        for r in KM.kmeans_assign(vecs, k=k).collect()
    }
    monkeypatch.setattr(KM, "KM_KERNEL_MIN_K", 10**9)  # force crossJoin path
    crossjoin = {
        (r["vec_id"]): (r["cid"], r["d"])
        for r in KM.kmeans_assign(vecs, k=k).collect()
    }
    assert kernel == crossjoin and len(kernel) > 0


def test_kmeans_sampled_training_matches_oracle(spark, monkeypatch):
    """Past KM_TRAIN_CAP, Lloyd trains on the md5-order sample of the
    corpus and assigns the full base exactly once (the r05 verdict's
    scale fix: bounded training + bounded centroid artifact + one linear
    pass). The DuckDB mirror replays the identical sample (ORDER BY
    md5-code, vec_id LIMIT cap), so assignments stay bit-identical —
    and the capped result must genuinely DIFFER from full-base training
    on this corpus (proof the sample path actually ran)."""
    import duckdb
    import numpy as np
    import pandas as pd

    from mimic2ts_spark.operators import kmeans as KM

    rng = np.random.RandomState(7)
    n, dim, cap, k = 300, 8, 64, 8
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [
                rng.rand(dim).astype(np.float32).tolist() for _ in range(n)
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    monkeypatch.setattr(KM, "KM_TRAIN_CAP", cap)
    got = {r["vec_id"]: (r["cid"], r["d"]) for r in KM.kmeans_assign(df, k=k).collect()}
    assert len(got) == n

    con = duckdb.connect()
    con.register("embeddings", pdf)
    capped_sql = KM.sql_kmeans_assign("embeddings", k=k, train_cap=cap)
    want = {int(v): (int(c), int(d)) for v, c, d in con.sql(capped_sql).fetchall()}
    assert got == want
    full_sql = KM.sql_kmeans_assign("embeddings", k=k, train_cap=None)
    full = {int(v): (int(c), int(d)) for v, c, d in con.sql(full_sql).fetchall()}
    assert full != want  # the sample is real, not silently the whole base


def test_kmeans_separates_planted_clusters(spark):
    """Two well-separated blobs, seeds one per blob -> after the Lloyd
    rounds every point sits with its blob and inertia is the exact
    integer sum of quantized distances."""
    from mimic2ts_spark.operators.kmeans import kmeans_assign

    # seeding is the k lowest ids — id 0 in blob A, id 1 in blob B puts
    # one seed per blob (Lloyd then just tightens each centroid)
    rows = [
        (0, [1.0, 1.0, 0.0]),
        (1, [-1.0, -1.0, 0.5]),
        (2, [1.1, 0.9, 0.0]),
        (3, [-1.1, -0.9, 0.5]),
        (4, [0.9, 1.1, 0.0]),
        (5, [-0.9, -1.1, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["cid"] for r in kmeans_assign(df, k=2, rounds=2).collect()}
    assert len({got[0], got[2], got[4]}) == 1
    assert len({got[1], got[3], got[5]}) == 1
    assert got[0] != got[1]


def test_hard_negatives_exclude_positive_band(spark, embs):
    """Mined hard negatives must sit strictly below the positive band,
    never coincide with a near-dup pair at the same threshold, and keep
    contiguous ranks (the band filter runs BEFORE ranking)."""
    thr = 0.45
    rows = S.hard_negative_topk(
        embs, embs.where(F.col("vec_id") < 3), pos_threshold=thr, k=5
    ).collect()
    assert rows
    positives = {
        frozenset((r["vec_a"], r["vec_b"]))
        for r in S.embedding_near_dup_pairs(embs, threshold=thr).collect()
    }
    by_q: dict = {}
    for r in rows:
        assert r["cosine"] < thr
        assert frozenset((r["query_id"], r["neighbor_id"])) not in positives
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)


def test_hybrid_rrf_fuses_both_legs(spark, docs, embs):
    """RRF output must be explainable by its legs: every fused row's
    score equals 1/(60+lex_rank) + 1/(60+dense_rank) with absent legs
    contributing 0, and the result must actually draw on both legs."""
    from mimic2ts_spark.operators.search import (
        RRF_K,
        bm25_topk,
        hybrid_rrf_topk,
    )

    terms = ("join", "hash", "vector", "scan")
    fused = hybrid_rrf_topk(docs, embs, terms, leg_k=20, k=10).collect()
    assert fused
    for r in fused:
        want = (1.0 / (RRF_K + r["lex_rank"]) if r["lex_rank"] is not None else 0.0) + (
            1.0 / (RRF_K + r["dense_rank"]) if r["dense_rank"] is not None else 0.0
        )
        assert r["rrf_score"] == want, r
    has_lex = any(r["lex_rank"] is not None for r in fused)
    has_dense = any(r["dense_rank"] is not None for r in fused)
    assert has_lex and has_dense
    # a doc ranked high by BOTH legs must beat one ranked by a single leg
    both = [r for r in fused if r["lex_rank"] is not None and r["dense_rank"] is not None]
    single = [r for r in fused if (r["lex_rank"] is None) != (r["dense_rank"] is None)]
    if both and single:
        assert max(b["rrf_score"] for b in both) > min(s["rrf_score"] for s in single)


def test_hybrid_rrf_lex_override_equals_scan(spark, docs, embs, tmp_path):
    """r14 serving swap: hybrid_rrf_topk with a postings-served lexical
    leg (bm25_from_postings) must equal the scan form row-for-row —
    the fusion is unchanged, and bm25_from_postings bit-equals
    bm25_topk on the same corpus (the X177 contract)."""
    from mimic2ts_spark.operators.search import (
        bm25_from_postings,
        build_postings,
        corpus_stats,
        hybrid_rrf_topk,
    )

    terms = ("join", "hash", "vector", "scan")
    pdir = str(tmp_path / "postings")
    build_postings(docs).write.parquet(pdir)
    stats = corpus_stats(docs)
    lex = bm25_from_postings(spark, pdir, stats, terms, k=20)
    scan = hybrid_rrf_topk(docs, embs, terms, leg_k=20, k=10).collect()
    served = hybrid_rrf_topk(
        None, embs, terms, leg_k=20, k=10, lex=lex
    ).collect()
    assert scan == served


def _write_canon_postings(spark, corpus, tmp_path):
    from mimic2ts_spark.operators.search import build_postings

    pdir = str(tmp_path / "postings")
    ldir = str(tmp_path / "doclens")
    build_postings(corpus).write.parquet(pdir)
    toks = X.tokens(F.col("text"))
    corpus.select(
        F.col("doc_id").alias("doc"),
        F.size(toks).cast("long").alias("dl"),
        F.size(F.array_distinct(toks)).cast("long").alias("nt"),
    ).write.parquet(ldir)
    postings = spark.read.parquet(pdir).select(
        "term", F.col("doc_id").alias("doc"), "tf", "dl"
    )
    return postings, spark.read.parquet(ldir)


def test_panel_bm25_served_from_postings_equals_scan(spark, docs, tmp_path):
    """r14 serving swap: the postings-served known_item_mrr and
    neardup_map_at_k must equal the scan forms ROW-FOR-ROW on the same
    canonical corpus — the (term, doc, tf, dl) postings ARE the scan
    form's explode→agg rows and the (doc, dl, nt) doclens carries every
    doc's totals/eligibility fields. The corpus gains an all-whitespace
    doc so empty-string tokens flow through the postings path too."""
    from mimic2ts_spark.operators.search import known_item_mrr, neardup_map_at_k

    canon = D.canonical_docs(docs).select("doc_id", "text")
    extra = spark.createDataFrame(
        [(10**9, " ")], "doc_id long, text string"
    )
    corpus = canon.unionByName(extra).cache()  # still canonical: unique text
    postings, doclens = _write_canon_postings(spark, corpus, tmp_path)

    scan = known_item_mrr(corpus, pre_canonical=True).collect()
    served = known_item_mrr(None, postings=postings, doclens=doclens).collect()
    assert sorted(map(tuple, scan)) == sorted(map(tuple, served))
    assert any(r.rank_found for r in scan)  # the eval actually fires

    pairs = D.minhash_lsh_pairs(
        corpus, threshold=0.8, on_duplicates="ignore"
    ).cache()
    scan2 = neardup_map_at_k(corpus, pairs=pairs, pre_canonical=True).collect()
    served2 = neardup_map_at_k(
        None, pairs=pairs, postings=postings, doclens=doclens
    ).collect()
    assert sorted(map(tuple, scan2)) == sorted(map(tuple, served2))
    assert any(r.n_hits for r in scan2)


def test_canon_postings_append_dedupes_repeated_delta_rows(spark, docs, tmp_path):
    """A delta batch that sends the same (doc_id, text) row twice adds
    that doc once: the appended artifact equals a fresh build over
    base ∪ distinct(delta)."""
    from mimic2ts_spark.operators.search import (
        append_canon_postings_artifact,
        build_canon_postings_artifact,
        load_canon_postings,
    )

    d = docs.select("doc_id", "text")
    base = d.where(F.col("doc_id") % 10 != 0)
    fresh = d.where(F.col("doc_id") % 10 == 0)
    grown = str(tmp_path / "grown")
    build_canon_postings_artifact(spark, grown, base)
    append_canon_postings_artifact(spark, grown, fresh.unionByName(fresh))
    fresh_build = str(tmp_path / "fresh")
    build_canon_postings_artifact(spark, fresh_build, base.unionByName(fresh))

    def rows(out):
        return [
            sorted(map(tuple, df.collect()))
            for df in load_canon_postings(spark, out)
        ]

    assert rows(grown) == rows(fresh_build)


def test_canon_postings_meta_write_leaves_no_partial_file(
    spark, tmp_path, monkeypatch
):
    """json.dump raising mid-write (a crash) must leave neither a
    truncated _canon_postings_meta.json nor a .tmp file, on the first
    build and on an append (which keeps the previous meta)."""
    import json
    import os

    from mimic2ts_spark.operators.search import (
        append_canon_postings_artifact,
        build_canon_postings_artifact,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    real_dump = json.dump

    def crash(obj, f, *a, **kw):
        f.write('{"text_col": ')
        raise RuntimeError("crash mid-write")

    first = str(tmp_path / "first")
    monkeypatch.setattr(json, "dump", crash)
    with pytest.raises(RuntimeError, match="crash mid-write"):
        build_canon_postings_artifact(spark, first, corpus)
    assert os.listdir(first) and not [
        n for n in os.listdir(first) if n.startswith("_canon_postings_meta")
    ]

    monkeypatch.setattr(json, "dump", real_dump)
    grown = str(tmp_path / "grown")
    build_canon_postings_artifact(spark, grown, corpus)
    meta_path = os.path.join(grown, "_canon_postings_meta.json")
    before = open(meta_path).read()
    delta = spark.createDataFrame([(3, "epsilon")], "doc_id long, text string")
    monkeypatch.setattr(json, "dump", crash)
    with pytest.raises(RuntimeError, match="crash mid-write"):
        append_canon_postings_artifact(spark, grown, delta)
    assert open(meta_path).read() == before
    assert not os.path.exists(meta_path + ".tmp")


def test_semantic_pairs_subset_of_bruteforce(spark, embs):
    """Cluster blocking may MISS pairs but can never invent one: every
    SemDeDup pair must appear in the unblocked X5 pair set with the
    identical cosine, and on this fixture recall should be useful."""
    from mimic2ts_spark.operators.kmeans import semantic_near_dup_pairs

    # k=2: coarse blocking — the recall/precision trade is dialable by k
    # (finer clusters block away more of the 0.45 band on these near-
    # random synthetic vectors; the harness pins k=8 and accepts that)
    sem = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in semantic_near_dup_pairs(embs, 0.45, k=2).collect()
    }
    brute = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in S.embedding_near_dup_pairs(embs, threshold=0.45).collect()
    }
    assert set(sem) <= set(brute)
    for p, c in sem.items():
        assert c == brute[p]  # identical exact-cosine expression
    if brute:
        assert len(sem) / len(brute) >= 0.3, (len(sem), len(brute))


def test_semantic_subbucket_verify_matches_oracle(spark):
    """Bounded SemDeDup verify (the r06-verdict scale fix): clusters
    larger than sub_bound split into LSH sub-buckets (OR over the
    SEM_SUB_TABLES signatures) before the exact gram verify. Driven
    with a small sub_bound so the path actually FIRES: (a) the DuckDB
    mirror with the same bound matches bit-exactly, (b) the bounded
    result is a strict subset of the unbounded form (pairs no table
    co-buckets are genuinely missed — proof nb > 0 ran), (c) every
    surviving cosine is identical to the unbounded value."""
    import duckdb
    import numpy as np
    import pandas as pd

    from mimic2ts_spark.operators import kmeans as KM

    rng = np.random.RandomState(11)
    n, dim, k, thr, bound = 240, 64, 2, 0.78, 16
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [
                rng.rand(dim).astype(np.float32).tolist() for _ in range(n)
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    bounded = {
        (r["vec_a"], r["vec_b"]): (r["cid"], r["cosine"])
        for r in KM.semantic_near_dup_pairs(df, thr, k=k, sub_bound=bound).collect()
    }
    unbounded = {
        (r["vec_a"], r["vec_b"]): (r["cid"], r["cosine"])
        for r in KM.semantic_near_dup_pairs(df, thr, k=k, sub_bound=10**9).collect()
    }
    assert set(bounded) < set(unbounded), (len(bounded), len(unbounded))
    assert bounded  # the OR over tables keeps usable recall
    for p, (cid, cos) in bounded.items():
        assert unbounded[p] == (cid, cos)

    con = duckdb.connect()
    con.register("embeddings", pdf)
    sql = KM.sql_semantic_near_dup_pairs(thr, k=k, sub_bound=bound)
    want = {
        (int(a), int(b)): (int(c), float(cos))
        for a, b, c, cos in con.sql(sql).fetchall()
    }
    assert bounded == want


def _py_greedy_merge(syms, a, b):
    out, lm = [], False
    for s in syms:
        if out and not lm and out[-1] == a and s == b:
            out[-1] = a + b
            lm = True
        else:
            out.append(s)
            lm = False
    return out


def test_bpe_merge_fold_matches_python_reference(spark):
    """The fold must implement standard greedy left-to-right BPE merge:
    overlapping occurrences consume left-first and a merged symbol never
    re-merges within the round ('aaaa' + (a,a) -> aa,aa)."""
    from mimic2ts_spark.operators.bpe import merged_syms

    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "b", "a", "b"], "a", "b"),
        (["b", "a", "a", "b"], "a", "a"),
        (["x"], "a", "b"),
        (["a", "b", "b"], "a", "b"),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)],
        "i long, syms array<string>",
    )
    for i, (syms, a, b) in enumerate(cases):
        got = (
            df.where(F.col("i") == i)
            .select(merged_syms(F.col("syms"), a, b).alias("m"))
            .collect()[0]["m"]
        )
        assert got == _py_greedy_merge(syms, a, b), (syms, a, b, got)


def test_bpe_apply_hand_fixture(spark):
    """Tokenizer application against an independently hand-derived
    result: corpus 'ab ab ab c' x2 docs + 'c c' — round 1 merges (a,b)
    [pair count 6 beats (b,US-sep) nothing else], round 2 merges the
    next-best pair; n_tokens per doc then counts post-merge symbols per
    word occurrence."""
    from mimic2ts_spark.operators.bpe import bpe_apply_doc_stats

    df = spark.createDataFrame(
        [(0, "ab ab ab c"), (1, "ab ab ab c"), (2, "c c")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bpe_apply_doc_stats(df, rounds=1).collect()}
    # round 1: pair (a,b) occurs 6x (word 'ab' count 6) — merged.
    # 'ab' -> ['ab'] (1 sym), 'c' -> ['c'] (1 sym)
    assert got[0]["n_words"] == 4 and got[0]["n_tokens"] == 4
    assert got[1]["n_tokens"] == 4
    assert got[2]["n_words"] == 2 and got[2]["n_tokens"] == 2
    # identical docs -> identical checksums; different doc -> different
    assert got[0]["checksum"] == got[1]["checksum"] != got[2]["checksum"]

    # word-order sensitivity: same multiset of words, different order
    df2 = spark.createDataFrame(
        [(0, "ab c ab"), (1, "c ab ab")], "doc_id long, text string"
    )
    got2 = {r["doc_id"]: r for r in bpe_apply_doc_stats(df2, rounds=1).collect()}
    assert got2[0]["n_tokens"] == got2[1]["n_tokens"]
    assert got2[0]["checksum"] != got2[1]["checksum"]


def test_ingest_admission_end_to_end(spark, tmp_path):
    """The X137 decision table drives a real versioned-corpus ingest:
    admitted docs merge as a committed version and the table grows by
    exactly the admitted count; rejects never enter. Planted fixtures:
    a batch doc that's an exact copy of another batch doc (reject_exact,
    min-id canonical admits), and one nearly identical to a corpus doc
    (reject_near_dup)."""
    from mimic2ts_spark import harness_ext as hx
    from mimic2ts_spark.operators.versioned import (
        init_table,
        merge_versioned,
        read_table,
    )

    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # corpus (doc_id % 10 != 0)
        (1, base_text),
        (2, "one two three four five six seven eight nine ten"),
        # batch (doc_id % 10 == 0)
        (10, base_text + " kappa"),            # near-dup of corpus doc 1
        (20, "completely fresh content words unlike anything else here"),
        (30, "duplicate payload inside the incoming batch itself today"),
        (40, "duplicate payload inside the incoming batch itself today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    import tempfile

    src = tempfile.mkdtemp(prefix="ingest_sf_")
    docs.write.mode("overwrite").parquet(f"{src}/documents.parquet")

    report = {r["doc_id"]: r["decision"]
              for r in hx.q_ingest_admission(spark, src).collect()}
    assert report == {
        10: "reject_near_dup",
        20: "admit",
        30: "admit",          # canonical (min id) of the exact pair
        40: "reject_exact",
    }

    # drive the admitted rows into a versioned corpus
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    path = str(tmp_path / "corpus")
    init_table(corpus, path, "doc_id", n_buckets=4)
    admitted_ids = [d for d, dec in report.items() if dec == "admit"]
    admitted = docs.where(F.col("doc_id").isin(admitted_ids))
    merge_versioned(spark, path, admitted, "doc_id")
    final = read_table(spark, path)
    assert final.count() == corpus.count() + len(admitted_ids)
    assert final.where(F.col("doc_id").isin([10, 40])).count() == 0


def test_epoch_shuffle_is_fresh_bijection_per_epoch(spark, docs):
    """Each epoch is a PERMUTATION (every doc exactly once, per-shard
    positions contiguous from 1) and distinct epochs produce genuinely
    different orders (the point of reshuffling between epochs)."""
    from mimic2ts_spark.operators.split import epoch_shuffle

    ids = docs.select("doc_id")
    n = ids.count()
    orders = {}
    for epoch in (1, 2):
        rows = epoch_shuffle(ids, "doc_id", epoch=epoch).collect()
        assert len(rows) == n
        by_shard: dict = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["position"])
        for shard, pos in by_shard.items():
            assert sorted(pos) == list(range(1, len(pos) + 1)), shard
        orders[epoch] = {r["doc_id"]: (r["shard"], r["position"]) for r in rows}
    assert set(orders[1]) == set(orders[2])  # same docs
    moved = sum(1 for d in orders[1] if orders[1][d] != orders[2][d])
    assert moved > n * 0.9  # a fresh permutation, not a tweak


def test_bpe_apply_checksum_survives_huge_doc(spark):
    """Overflow regression (r05): the checksum reduces each term mod MOD
    BEFORE summing — a raw Σ (pos+1)·word_hash grows ~n²/2·MOD and blows
    int64 around 1.4e5 words, which ANSI Spark turns into a hard error
    at exactly raw-web-document scale. A 200k-word doc must both
    succeed and match the independent Python reduction."""
    import hashlib

    from mimic2ts_spark.operators.bpe import bpe_apply_doc_stats
    from mimic2ts_spark.operators.text import MOD as TMOD

    n = 200_000
    df = spark.createDataFrame([(0, "ab " * n)], "doc_id long, text string")
    row = bpe_apply_doc_stats(df, rounds=1).collect()[0]

    # round 1 merges (a,b): vocab 'ab' -> ['ab'] (the split leaves a
    # trailing '' word from the trailing space; it hashes to its own code)
    def code(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % TMOD

    def word_hash(syms: list[str]) -> int:
        acc = 0
        for i, s in enumerate(syms, 1):
            acc = (acc + code(s) * i) % TMOD
        return acc

    h_ab, h_empty = word_hash(["ab"]), word_hash([""])
    want = 0
    for pos in range(n + 1):  # n 'ab' words + the trailing '' word
        h = h_ab if pos < n else h_empty
        want = (want + ((pos + 1) * h) % TMOD) % TMOD
    assert row["n_words"] == n + 1
    assert row["checksum"] == want


def test_bpe_summary_invariant(spark, docs):
    """Each merge round shrinks the corpus symbol count by EXACTLY the
    merged pair's occurrence count (every merged occurrence removes one
    symbol) — a cross-check tying the argmax, the fold, and the count
    together."""
    from mimic2ts_spark.operators.bpe import bpe_train_summary, word_symbol_counts

    base_total = (
        word_symbol_counts(docs)
        .agg(F.sum(F.size("syms") * F.col("cnt")).alias("t"))
        .collect()[0]["t"]
    )
    rows = sorted(
        bpe_train_summary(docs, rounds=2).collect(), key=lambda r: r["round"]
    )
    prev = base_total
    for r in rows:
        assert r["total_syms_after"] == prev - r["pair_count"], (prev, dict(r.asDict()))
        prev = r["total_syms_after"]


def test_fuzzy_blocking_covers_every_single_edit(spark):
    """Blocking-completeness edge cases: substitution/insert/delete at
    the FIRST character (first-char blocking alone would miss these),
    at the LAST character, and in the middle — every lev<=1 variant of
    a >=3-char dictionary word must be matched."""
    from mimic2ts_spark import harness_ext as hx

    canon_words = ["table", "scan"]
    dirty_variants = {
        "mable": "table",   # substitution at first char
        "able": "table",    # delete first char
        "xtable": "table",  # insert at front
        "table": "table",   # delete middle char
        "tablx": "table",   # substitution at last char
        "scans": "scan",    # insert at end
        "scan": "scan",     # exact
    }
    # drive the REAL blocking helper the query uses on crafted tables
    canon = spark.createDataFrame(
        [(w, 1) for w in canon_words], "canon_w string, cnt long"
    )
    dirty = spark.createDataFrame(
        [(w,) for w in dirty_variants], "dirty_w string"
    )
    cand = (
        hx._fuzzy_keyed(dirty, "dirty_w", False)
        .join(hx._fuzzy_keyed(canon, "canon_w", True), ["side", "ch", "lb"])
        .dropDuplicates(["dirty_w", "canon_w"])
        .where(F.levenshtein("dirty_w", "canon_w") <= 1)
    )
    got = {(r["dirty_w"], r["canon_w"]) for r in cand.collect()}
    assert got >= set(dirty_variants.items()), (
        set(dirty_variants.items()) - got
    )


def test_rolling_kmv_estimates_near_exact(spark):
    """The merged-window KMV estimate must actually estimate: within
    50% of the exact count on every window (k=64 -> ~13% stderr; the
    bound is loose on purpose, the oracle pins exact reproducibility)."""
    from mimic2ts_spark import harness_ext as hx

    rows = hx.q_rolling_actives_kmv(spark, SF).collect()
    assert rows
    for r in rows:
        assert abs(r["est_distinct"] - r["n_exact"]) <= 0.5 * r["n_exact"], dict(
            r.asDict()
        )


def test_scale_dial_formulas():
    """The derived scale dials are pure functions — pin the values the
    sweeps were validated at (a silent formula change re-opens the
    super-linear failure modes the r04 sweeps closed)."""
    from mimic2ts_spark.operators.kmeans import KM_TRAIN_CAP, derived_k
    from mimic2ts_spark.operators.similarity import derived_cells

    assert derived_k(500) == 8       # sf0.01 — historical k preserved
    assert derived_k(2000) == 8      # sf0.1 — bench-stable
    assert derived_k(20000) == 78    # 10x sweep
    # past the training cap, k PLATEAUS (bounded centroid artifact +
    # linear one-pass full assignment — the r05 verdict's scale fix);
    # the cap itself is the dial that buys more cells.
    assert derived_k(200000) == KM_TRAIN_CAP // 256 == 256  # 100x sweep
    assert derived_k(10**9) == 256
    assert derived_cells(500) == 16
    assert derived_cells(2000) == 16
    assert derived_cells(20000) == 78
    assert derived_cells(200000) == 256

    # triangle threshold: greatest(3, ceil(3s / 2c)) in exact int math
    thr = lambda s, c: max(3, (3 * s + 2 * c - 1) // (2 * c))
    assert thr(584397, 439417) == 3   # sf0.1 transition stats -> unchanged
    assert thr(57900, 9863) == 9      # sf0.01 -> adapts
    assert thr(10 * 584397, 439417) == 20  # 10x multiplicity inflation


def test_pq_adc_recall_floor(spark):
    """ADC ranking must stay CORRELATED with exact similarity: among the
    ADC top-20 for the min-id query, at least 30% must appear in the
    exact cosine top-20 (measured 40% flat-PQ / 50% residual IVF-PQ —
    the floor catches a broken distance table or code path, not
    codebook-quality drift; raised from 20% when IVF-PQ gained trained
    coarse cells + residual codes)."""
    import numpy as np

    from mimic2ts_spark.operators.pq import ivfpq_topk, pq_adc_topk

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = vecs.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    q = M[0]
    cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    exact_top = [int(ids[i]) for i in np.argsort(-cos) if ids[i] != ids[0]][:20]

    for fn in (pq_adc_topk, ivfpq_topk):
        got = [r["vec_id"] for r in fn(vecs).collect()]
        overlap = len(set(got) & set(exact_top)) / 20
        assert overlap >= 0.3, (fn.__name__, overlap)


def test_ann_recall_eval_floors(spark):
    """X156's recall report must stay a working eval: 32 rows per leg,
    recall in [0,1], and mean recall above a per-leg floor (measured
    0.73 ivf / 0.31 ivfpq / 0.88 graph at sf0.001 — floors at
    0.5/0.15/0.8 catch a broken probe path, distance table, beam walk
    or panel join, not codebook-quality drift). Guards every future
    dial change (cells/nprobe/M/beam/hops) the eval exists to
    inform. r10 adds the 'sq8' serving leg (measured 0.987 at
    sf0.001 — 8-bit codes over the full corpus range lose almost
    nothing; floor 0.9 catches a broken encode/decode or stats join).
    r11 adds the X218 BQ legs: 'bq' raw 64-bit Hamming (measured 0.231
    — a candidate tier, floored only against total breakage) and
    'bq_rescore' (measured 0.728 — the deployed two-stage shape)."""
    from mimic2ts_spark import harness_ext as H

    rows = H.q_ann_recall(spark, SF).collect()
    by_leg: dict = {}
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_hits"] == round(r["recall"] * H.ANN_RECALL_K)
        by_leg.setdefault(r["leg"], []).append(r["recall"])
    assert set(by_leg) == {"ivf", "ivfpq", "graph", "sq8", "bq", "bq_rescore"}
    for leg, floor in (
        ("ivf", 0.5),
        ("ivfpq", 0.15),
        ("graph", 0.8),
        ("sq8", 0.9),
        ("bq", 0.1),
        ("bq_rescore", 0.6),
    ):
        assert len(by_leg[leg]) == H.ANN_RECALL_QUERIES
        mean = sum(by_leg[leg]) / len(by_leg[leg])
        assert mean >= floor, (leg, mean)


def test_ivf_trained_cells_exact_rerank(spark):
    """Trained-cell IVF can only MISS candidates (probe-limited), never
    invent or mis-score one: every (query, neighbor) it returns must
    carry the bit-identical exact cosine the brute-force path computes,
    with contiguous ranks from 1."""
    from pyspark.sql import functions as F

    from mimic2ts_spark.operators.similarity import brute_force_topk, ivf_topk

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = vecs.where(F.col("vec_id") < 5)
    n = vecs.count()
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(vecs, qs, k=n).collect()
    }
    by_q: dict = {}
    for r in ivf_topk(vecs, qs, k=5).collect():
        assert r["cosine"] == brute[(r["query_id"], r["neighbor_id"])]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert by_q and all(sorted(v) == list(range(1, len(v) + 1))
                        for v in by_q.values())


def test_ivfpq_residual_distortion_below_global(spark):
    """Residual encoding is the POINT of production IVF-PQ: quantizing
    x − cell_centroid with the same M×K codebook budget must carry less
    total distortion than quantizing raw x (residuals concentrate near
    0). Measured 0.90× on the synthetic near-random vectors — real
    clustered embeddings drop much further; the pin is < 1.0 strictly,
    which any sign error or residual-path regression breaks."""
    from mimic2ts_spark.operators.pq import ivfpq_encode, pq_encode

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    global_d = sum(r["distortion"] for r in pq_encode(vecs).collect())
    residual_d = sum(r["distortion"] for r in ivfpq_encode(vecs).collect())
    assert 0 < residual_d < global_d, (residual_d, global_d)


def test_codebook_artifact_roundtrip(spark, tmp_path):
    """Codebooks are ARTIFACTS: save→load must reproduce the training
    exactly, and encoding against the loaded artifact must bit-equal
    encoding that retrains — the contract the maintain CLI's `codebook`
    command and the harness cache_key sharing rely on."""
    from mimic2ts_spark.operators.pq import (
        load_codebooks,
        pq_encode,
        save_codebooks,
        train_codebooks,
    )

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = train_codebooks(vecs)
    path = str(tmp_path / "codebook.json")
    save_codebooks(books, path)
    loaded = load_codebooks(path)
    assert loaded == [[(c, list(v)) for c, v in b] for b in books]

    fresh = {r["vec_id"]: tuple(r) for r in pq_encode(vecs).collect()}
    via_artifact = {
        r["vec_id"]: tuple(r) for r in pq_encode(vecs, codebooks=loaded).collect()
    }
    assert fresh == via_artifact


def test_phash_near_dup_pairs_catch_pixel_swap(spark):
    """The phash PAIR path on genuinely near-identical images (this
    corpus has no pixel-space near-dups at gate scale, so the registry
    query ships the fingerprint table and THIS pins the pairs): two
    pixel buffers differing by one swapped character pair keep the tap
    SUM identical, so at most 2 threshold bits flip — banded candidates
    (pigeonhole over 4 bands) must find the pair and verify hamming
    ≤ 2, while an unrelated image pairs with neither."""
    from mimic2ts_spark.operators.multimodal import (
        encode_png,
        perceptual_hashes,
        phash_near_dup_pairs,
    )

    base = bytearray(("the quick brown fox jumps over the lazy dog " * 8).encode())
    near = bytearray(base)
    near[5], near[200] = near[200], near[5]  # multiset (and tap sum) preserved
    unrelated = ("0123456789 " * 32).encode()
    rows = [
        (1, "image/png", bytearray(encode_png(bytes(base)))),
        (2, "image/png", bytearray(encode_png(bytes(near)))),
        (3, "image/png", bytearray(encode_png(unrelated))),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, content binary"
    )
    hashes = perceptual_hashes(media)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in phash_near_dup_pairs(hashes, max_hamming=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 2, pairs
    assert all({a, b} == {1, 2} for a, b in pairs), pairs


def test_phash_pigeonhole_guard():
    from mimic2ts_spark.operators.multimodal import PHASH_BANDS, phash_near_dup_pairs

    with pytest.raises(ValueError):
        phash_near_dup_pairs(None, max_hamming=PHASH_BANDS)


def test_containment_catches_subset_doc_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment 1.0 in
    the contained→container direction ONLY, while symmetric Jaccard at
    the same bar stays silent (J = |a|/|b| ≈ 0.4 here)."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta red orange yellow green blue violet"),
        (3, "one two three four five six seven"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in D.containment_pairs(df, threshold=0.9).collect()
    }
    assert got.get((1, 2)) == 1.0, got
    assert (2, 1) not in got and not any(3 in p for p in got), got
    jac = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(df, threshold=0.9).collect()
    }
    assert (1, 2) not in jac and (2, 1) not in jac


def test_containment_pruned_equals_naive_all_pairs(spark, docs):
    """Blocking-completeness: the prefix-filtered containment_pairs must
    equal the NAIVE all-pairs + exact-verify form on the sf0.001 corpus
    (the naive reference shares no pruning theorem with the operator)."""
    pruned = {
        (r.doc_a, r.doc_b, round(r.containment, 12))
        for r in D.containment_pairs(docs, threshold=0.9).collect()
    }
    base = (
        D.with_shingle_codes(
            docs.select("doc_id", "text").where(
                F.size(D.tokens(F.col("text"))) >= D.SHINGLE_N
            ),
            out="_sc",
        )
        .select(
            "doc_id", F.array_sort(F.array_distinct(F.col("_sc"))).alias("codes")
        )
        .where(F.size("codes") > 0)
    )
    a = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("codes").alias("codes_a"),
        F.size("codes").alias("n_a"),
    )
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("codes").alias("codes_b"))
    naive = (
        a.crossJoin(b)
        .where(F.col("doc_a") != F.col("doc_b"))
        .withColumn(
            "containment",
            F.size(F.array_intersect("codes_a", "codes_b")).cast("double")
            / F.col("n_a").cast("double"),
        )
        .where(F.col("containment") >= 0.9)
    )
    expect = {
        (r.doc_a, r.doc_b, round(r.containment, 12)) for r in naive.collect()
    }
    assert pruned == expect and expect, (len(pruned), len(expect))


def test_ivf_delta_assign_matches_crossjoin_and_delta_cost(spark, embs):
    """Incremental index maintenance: delta rows must equal the
    independent struct-min broadcast assignment against the SAME
    base-trained centroids (two disjoint code paths for nearest-cell),
    and the coarse training must come from the memo on a second call
    (the delta-cost contract — no retrain per batch)."""
    from mimic2ts_spark.operators import kmeans as K
    from mimic2ts_spark.operators.similarity import derived_cells, ivf_delta_assign

    base = embs.where(F.col("vec_id") % 10 != 0)
    delta = embs.where(F.col("vec_id") % 10 == 0)
    key = "test:ivf_delta"
    got = {
        r.vec_id: (r.cid, r.d)
        for r in ivf_delta_assign(base, delta, cache_key=key).collect()
    }

    n = base.count()
    cents_rows = K._COARSE_CACHE[(derived_cells(n), K.KM_ROUNDS, key)]
    cents = spark.createDataFrame(
        [(r.cid, list(r.m)) for r in cents_rows], "cid long, m array<bigint>"
    )
    dbase = delta.select("vec_id", K.quantize(F.col("embedding")).alias("x"))
    expect = {
        r.vec_id: (r.cid, r.d) for r in K._assign(dbase, cents).collect()
    }
    assert got == expect and got

    # memo hit: a second call must reuse the identical centroid object
    before = K._COARSE_CACHE[(derived_cells(n), K.KM_ROUNDS, key)]
    ivf_delta_assign(base, delta, cache_key=key).count()
    assert K._COARSE_CACHE[(derived_cells(n), K.KM_ROUNDS, key)] is before


def test_label_propagation_structures(spark):
    """Deterministic sync LPA with self-vote: a 2-node component
    converges to its min label (the self-vote kills the 2-cycle
    oscillation an even round count would otherwise return), a
    triangle floods to its min, a star adopts the hub's label, and
    separate components never share a community."""
    from mimic2ts_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (10, 11), (11, 12), (12, 10), (30, 31), (30, 32), (30, 33)],
        "src long, dst long",
    )
    got = {r.node: r.community for r in label_propagation(edges).collect()}
    assert got[1] == got[2] == 1
    assert got[10] == got[11] == got[12] == 10
    assert got[30] == got[31] == got[32] == got[33] == 30
    assert len({got[1], got[10], got[30]}) == 3


def test_truncation_recall_lossless_prefix_is_perfect(spark):
    """Self-consistency: embeddings whose mass lives entirely in the
    first 32 dims (zeros after) rank IDENTICALLY under 32-truncated and
    full cosine, so the d=32 leg must score recall 1.0 on every query —
    pins the rank/join/count plumbing independent of the oracle. The
    d=8 leg on the same vectors is genuinely lossy (< 1 on average)."""
    from mimic2ts_spark.operators.similarity import DIM, truncation_recall

    rows = [
        (i, [float((7 * i + 3 * d) % 11 - 5) for d in range(32)] + [0.0] * (DIM - 32))
        for i in range(20)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = truncation_recall(
        vecs, vecs.where(F.col("vec_id") < 4), dims=(8, 32), k=5
    ).collect()
    d32 = [r for r in out if r.trunc_dim == 32]
    assert d32 and all(r.recall == 1.0 and r.n_hits == 5 for r in d32)
    assert {r.trunc_dim for r in out} == {8, 32}


def test_mmr_diversifies_vs_plain_topk(spark):
    """MMR semantics: with a duplicated top candidate, plain top-2 keeps
    both copies while MMR (λ=0.5) swaps the copy for the diverse
    candidate — the redundancy penalty must actually fire."""
    from mimic2ts_spark.operators.similarity import (
        DIM,
        brute_force_topk,
        mmr_rerank,
    )

    pad = [0.0] * (DIM - 2)
    rows = [
        (0, [1.0, 0.0] + pad),        # query
        (1, [0.9, 0.436] + pad),      # A
        (2, [0.9, 0.436] + pad),      # A' (duplicate of A)
        (3, [0.9, -0.436] + pad),     # B (diverse, same relevance)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = vecs.where(F.col("vec_id") > 0)
    queries = vecs.where(F.col("vec_id") == 0)
    plain = {
        r.neighbor_id
        for r in brute_force_topk(corpus, queries, k=2).collect()
    }
    # A, A' and B all tie on raw cosine; the id tie-break keeps {1, 2}
    assert plain == {1, 2}
    steps = {
        r.step: r.neighbor_id
        for r in mmr_rerank(corpus, queries, k=2, n_cand=3, lam=0.5).collect()
    }
    assert steps == {1: 1, 2: 3}, steps


def test_mmr_single_candidate_emits_step1(spark):
    """Degenerate input (the r06 advice divergence): a query whose
    candidate set has exactly ONE member produces no pair-sim rows, so
    the old inner self-join dropped it from the output while the SQL
    mirror's s1 CTE emitted it. The left-join form must emit the step-1
    row with score = rel, bit-equal to the DuckDB mirror."""
    import duckdb
    import pandas as pd

    from mimic2ts_spark.operators.similarity import DIM, mmr_rerank, sql_mmr_rerank

    pad = [0.0] * (DIM - 2)
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1],
            "embedding": [[1.0, 0.0] + pad, [0.9, 0.436] + pad],
        }
    )
    vecs = spark.createDataFrame(pdf)
    got = mmr_rerank(
        vecs, vecs.where(F.col("vec_id") == 0), k=3, n_cand=5
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.query_id, r.step, r.neighbor_id) == (0, 1, 1)

    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = con.sql(
        sql_mmr_rerank(k=3, n_cand=5, query_pred="vec_id = 0")
    ).fetchall()
    assert [(r.query_id, r.step, r.neighbor_id, r.score)] == [
        (int(a), int(b), int(c), float(d)) for a, b, c, d in want
    ]


def test_hll_merge_equals_direct_sketch(spark):
    """X162: merging per-group register tables by elementwise max must
    bit-equal the from-scratch global sketch — the defining mergeable-
    aggregate property (max is associative + idempotent)."""
    from mimic2ts_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    per = hll_registers(ev, ["event_type"], "user_id")
    merged = hll_estimate(hll_merge(per, []), []).collect()
    direct = hll_estimate(hll_registers(ev, [], "user_id"), []).collect()
    assert len(merged) == len(direct) == 1
    assert merged[0].asDict() == direct[0].asDict()


def test_hll_register_state_bounded_and_accurate(spark):
    """X162: register state is <= m rows at ANY cardinality, the raw
    estimate lands within ~3 standard errors (1.04/sqrt(256) = 6.5%)
    on a 20k-distinct input, and the small-range corrected estimate is
    within 5% on a 150-distinct input (raw HLL is badly biased there —
    the correction is what makes the small range usable)."""
    from mimic2ts_spark.operators.sketch import (
        HLL_M,
        hll_estimate,
        hll_registers,
    )

    big = spark.range(0, 20000).select(F.col("id").alias("v"))
    regs = hll_registers(big, [], "v")
    assert regs.count() <= HLL_M
    est = hll_estimate(regs, []).collect()[0]
    assert abs(est.est_hll - 20000) / 20000 < 0.20
    assert est.est_hll == est.est_raw  # out of the small range: raw wins

    small = spark.range(0, 150).select(F.col("id").alias("v"))
    s = hll_estimate(hll_registers(small, [], "v"), []).collect()[0]
    assert s.est_hll != s.est_raw  # correction engaged
    assert abs(s.est_hll - 150) / 150 < 0.05


def test_phrase_occurrences_overlap_and_duplicate_terms(spark):
    """X163: anchors count OVERLAPPING starts ('a a a' w/ 'a a' -> 2),
    duplicate terms must anchor the same start from their OWN positions
    (phrase 'x x' does NOT match text 'x y x'), and a k=3 phrase only
    fires on a full consecutive run."""
    import pandas as pd

    from mimic2ts_spark.operators.search import phrase_occurrences

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["a a a", "x y x", "p q r s", "q r p q r"],
            }
        )
    )
    got = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in phrase_occurrences(
            docs, ("a a", "x x", "p q r", "q r")
        ).collect()
    }
    assert got == {
        ("a a", 1): 2,
        ("p q r", 3): 1,
        ("q r", 3): 1,
        ("q r", 4): 2,
        ("p q r", 4): 1,
    }


def _py_ddq_bucket(v: int) -> int:
    if v < 32:
        return v
    msb = v.bit_length() - 1
    return 32 + (msb - 5) * 16 + ((v >> (msb - 4)) - 16)


def _py_ddq_bounds(b: int) -> tuple[int, int]:
    if b < 32:
        return b, b
    m = (b - 32) // 16 + 5
    sub = (b - 32) % 16 + 16
    lo = sub << (m - 4)
    return lo, lo + (1 << (m - 4)) - 1


def test_ddq_bucket_decode_and_monotone(spark):
    """X165: the Spark bucket expression equals the python mirror on a
    boundary-heavy panel, every value lies inside its decoded bucket
    bounds, relative width is <= 1/16 outside the exact region, and
    the id is monotone in the value (the quantile-crossing argument
    requires monotonicity)."""
    from mimic2ts_spark.operators.sketch import ddq_bucket_sql

    vals = sorted(
        set(
            list(range(1, 200))
            + [2**k + d for k in range(8, 40) for d in (-1, 0, 1)]
            + [49002, 10**12]
        )
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r.v: r.b
        for r in df.select(
            "v", F.expr(ddq_bucket_sql("v", "spark")).cast("long").alias("b")
        ).collect()
    }
    prev = None
    for v in vals:
        b = _py_ddq_bucket(v)
        assert got[v] == b
        lo, hi = _py_ddq_bounds(b)
        assert lo <= v <= hi
        if v >= 32:
            assert (hi - lo + 1) * 16 <= lo  # relative width <= 1/16
        if prev is not None:
            assert b >= prev
        prev = b


def test_ddq_merge_equals_direct_and_error_bound(spark):
    """X165: (a) adding per-type counter tables bit-equals the
    from-scratch global sketch (counters add — the defining mergeable
    property); (b) every reported estimate's bucket CONTAINS the exact
    discrete quantile of the cents values, so |est - exact| <= width/2
    (relative error <= 1/32 outside the exact region); (c) counter
    state stays O(16 * log2(max)) rows regardless of row count."""
    from mimic2ts_spark.operators import sketch as K

    ev = spark.read.parquet(f"{SF}/events.parquet")
    cents_expr = "CAST(round(value * 100, 0) AS BIGINT)"
    cnts = K.ddq_counters(ev, ["event_type"], cents_expr)
    merged = K.ddq_quantiles(K.ddq_merge(cnts, []), []).collect()
    direct = K.ddq_quantiles(K.ddq_counters(ev, [], cents_expr), []).collect()
    assert len(merged) == len(direct) == 1
    assert merged[0].asDict() == direct[0].asDict()

    row = direct[0]
    assert row.n_buckets <= 16 * 64
    vals = sorted(r.c for r in ev.selectExpr(f"{cents_expr} AS c").collect())
    n = len(vals)
    assert row.n_rows == n
    for num, den, name in K.DDQ_PS:
        rank = (num * n + den - 1) // den
        exact = vals[rank - 1]
        est = row[f"est_{name}"]
        lo, hi = _py_ddq_bounds(_py_ddq_bucket(est))
        assert lo <= exact <= hi
        assert abs(est - exact) <= (hi - lo + 1) / 2


def test_substring_occurrences_matches_python_count(spark):
    """X166: replace-difference counts == python str.count
    (NON-overlapping: 'aaaa' with needle 'aa' -> 2, not 3), needles
    crossing token boundaries match, absent needles emit no row."""
    import pandas as pd

    from mimic2ts_spark.operators.search import substring_occurrences

    texts = {1: "aaaa b aa", 2: "hash table hash tab", 3: "no match here"}
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    needles = ("aa", "hash ta", "aaa")
    got = {
        (r.needle, r.doc_id): r.n_occurrences
        for r in substring_occurrences(docs, needles).collect()
    }
    expect = {
        (n, d): t.count(n) for n in needles for d, t in texts.items() if t.count(n)
    }
    assert got == expect


def test_dedup_recall_floor(spark):
    """X167: MinHash-LSH banding at the current dials must keep >= 0.9
    candidate recall against the exact AllPairs reference on the
    sf0.001 corpus (observed 1.0), SimHash at hamming<=3 >= 0.7
    (observed 0.82 — the eval's point: it shows SimHash's misses where
    theory only gives an S-curve) — the floors guard any future
    width/band retuning, like the ANN recall floors guard the IVF
    dials."""
    from mimic2ts_spark.harness_ext import q_dedup_recall

    rows = q_dedup_recall(spark, SF).collect()
    n_exact = sum(r.n_exact for r in rows)
    assert n_exact >= 20  # the corpus fires the eval (round-6 lesson)
    assert sum(r.n_hit_minhash for r in rows) / n_exact >= 0.9
    assert sum(r.n_hit_simhash for r in rows) / n_exact >= 0.7


def test_stream_ddq_equals_batch_counters(spark):
    """X168: the drained streaming quantile-sketch counter table must
    bit-equal the batch ddq_counters — counters add, so no microbatch
    split can change any (event_type, bucket) count."""
    from mimic2ts_spark.operators.sketch import ddq_counters
    from mimic2ts_spark.streaming import run_ddq_available_now

    got = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in run_ddq_available_now(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    want = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in ddq_counters(
            ev, ["event_type"], "CAST(round(value * 100, 0) AS BIGINT)"
        ).collect()
    }
    assert got == want


def test_trend_daily_exact_on_arithmetic_series(spark):
    """X169: on constructed daily counts y = 10 + 2x (x = 0..4) the OLS
    normal equations are EXACT integers — slope_num/slope_den must
    reduce to 2/1 and the double slope be exactly 2.0; a second flat
    series must give slope_num == 0."""
    import datetime

    import pandas as pd

    from mimic2ts_spark.harness_ext import q_trend_daily

    rows = []
    eid = 0
    for day in range(5):
        ts = datetime.datetime(2024, 1, 1 + day, 12, 0, 0)
        for _ in range(10 + 2 * day):
            rows.append((eid, ts, 1, "grow", 1.0, "{}"))
            eid += 1
        for _ in range(7):
            rows.append((eid, ts, 1, "flat", 1.0, "{}"))
            eid += 1
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="trend_")
    spark.createDataFrame(df).write.parquet(f"{d}/events.parquet")
    got = {r.event_type: r for r in q_trend_daily(spark, d).collect()}
    g = got["grow"]
    assert g.slope_num / g.slope_den == 2.0 and g.slope == 2.0
    assert g.n_days == 5 and g.n_events == sum(10 + 2 * x for x in range(5))
    f = got["flat"]
    assert f.slope_num == 0 and f.slope == 0.0


def test_lsh_multiprobe_recall_dominates_single_probe(spark, embs):
    """X171: multi-probe candidates are a SUPERSET of single-probe's
    (base buckets included), so recall@5 vs the exact panel is monotone
    non-decreasing — and the measured gain is large (0.475 -> 0.8375 on
    the 32-query sf0.001 panel at the same index). Floors guard the
    probe-selection logic (a broken flip choice would collapse the
    gain)."""
    from mimic2ts_spark.operators import similarity as S

    qs = embs.where(F.col("vec_id") < 32)

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = topk_sets(S.brute_force_topk(embs, qs, k=5))
    single = topk_sets(S.lsh_topk(embs, qs, k=5))
    multi = topk_sets(S.lsh_multiprobe_topk(embs, qs, k=5))

    def recall(approx):
        tot = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return tot / sum(len(v) for v in exact.values())

    r_single, r_multi = recall(single), recall(multi)
    assert r_multi >= r_single
    assert r_multi >= 0.7 and r_single >= 0.3


def test_kcenter_coreset_matches_python_greedy(spark, embs):
    """X173: the distributed greedy k-center selection must equal a
    driver-side python replay of Gonzalez's algorithm on the collected
    corpus (same quantization, same (dist DESC, id ASC) tie-break), and
    selection distances must be monotone non-increasing — the greedy
    invariant."""
    from mimic2ts_spark.operators.kmeans import QUANT, kcenter_coreset

    import math

    vecs = {
        r.vec_id: [math.floor(float(v) * QUANT) for v in r.embedding]
        for r in embs.select("vec_id", "embedding").collect()
    }
    got = [(r.round, r.vec_id, r.dist) for r in
           kcenter_coreset(embs).orderBy("round").collect()]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    seed = min(vecs)
    picks = [(0, seed, 0)]
    dmin = {i: d2(v, vecs[seed]) for i, v in vecs.items()}
    for rnd in range(1, 8):
        best = max(dmin, key=lambda i: (dmin[i], -i))
        picks.append((rnd, best, dmin[best]))
        for i, v in vecs.items():
            dmin[i] = min(dmin[i], d2(v, vecs[best]))
    assert got == picks
    dists = [d for _, _, d in got[1:]]
    assert dists == sorted(dists, reverse=True)
    assert len({v for _, v, _ in got}) == 8


def test_distributed_rank_and_snake_balance(spark, docs):
    """X174: (a) the two-level rank (group offsets + per-weight
    row_number) must equal the naive single-partition global
    row_number exactly; (b) snake sharding's token imbalance
    (max/min shard mass) must beat md5-hash sharding's on the same
    corpus — the reason the operator exists."""
    from pyspark.sql import Window

    from mimic2ts_spark.harness_ext import N_BALANCED_SHARDS, q_shard_balanced
    from mimic2ts_spark.operators.sketch import kmv_code
    from mimic2ts_spark.operators.split import distributed_rank
    from mimic2ts_spark.operators.text import token_count

    base = docs.select("doc_id", token_count(F.col("text")).alias("w"))
    two = {
        r.doc_id: r.rank for r in distributed_rank(base, "w", "doc_id").collect()
    }
    naive_w = Window.orderBy(F.desc("w"), F.asc("doc_id"))
    naive = {
        r.doc_id: r.rank
        for r in base.withColumn(
            "rank", F.row_number().over(naive_w).cast("long")
        ).collect()
    }
    assert two == naive

    snake = {r.shard: r.sum_tokens for r in q_shard_balanced(spark, SF).collect()}
    hashed = {
        r.shard: r.sum_tokens
        for r in base.withColumn(
            "shard", kmv_code(F.col("doc_id")) % N_BALANCED_SHARDS
        )
        .groupBy("shard")
        .agg(F.sum("w").alias("sum_tokens"))
        .collect()
    }
    ratio = lambda d: max(d.values()) / min(d.values())  # noqa: E731
    assert len(snake) == N_BALANCED_SHARDS
    assert ratio(snake) < ratio(hashed)
    assert ratio(snake) < 1.01  # near-perfect token balance


def test_bm25_maxscore_prune_fires_and_is_lossless(spark, docs):
    """X179: on the sf0.001 corpus the MaxScore prune FIRES (the gate
    corpus exercises the fast path — round-6 lesson) and the result
    equals full-scoring bm25_topk row-for-row; on a constructed corpus
    where every term has equal impact the prune CANNOT fire (bound >=
    theta) and the fallback still equals full scoring."""
    import pandas as pd

    from mimic2ts_spark.harness_ext import BM25_QUERY_TERMS
    from mimic2ts_spark.operators.search import bm25_topk, bm25_topk_maxscore

    st = {}
    got = bm25_topk_maxscore(docs, BM25_QUERY_TERMS, _stats=st).collect()
    want = bm25_topk(docs, BM25_QUERY_TERMS).collect()
    assert st["pruned"] is True
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # adversarial corpus: DISJOINT equal-impact term sets — theta (the
    # k-th anchor score) exactly EQUALS bound_rest (the other term's
    # max), so the strict tie-safe prune cannot fire and the fallback
    # must still equal full scoring.
    flat = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(4),
                "text": ["alpha x", "alpha y", "beta x", "beta y"],
            }
        )
    )
    st2 = {}
    got2 = bm25_topk_maxscore(flat, ("alpha", "beta"), k=2, _stats=st2).collect()
    want2 = bm25_topk(flat, ("alpha", "beta"), k=2).collect()
    assert st2["pruned"] is False and st2["bound_rest"] == st2["theta"]
    assert [tuple(r) for r in got2] == [tuple(r) for r in want2]


# --- X180/X181: NN-Descent k-NN graph + beam-search serving ----------------


def _knn_python_replay(vecs, k, rounds):
    """Driver-side replay of knn_graph: same md5 addressing, same
    candidate rule, same (d2, nbr) tie-break. vecs: {id: [int coords]}."""
    import hashlib

    def h15(s, start=0):
        return int(hashlib.md5(s.encode()).hexdigest()[start : start + 15], 16)

    n = len(vecs)
    nb = max(1, n // 4096)
    ranked = {}  # bucket -> [ids ordered by (code, id)]
    for i in vecs:
        ranked.setdefault(h15(str(i)) % nb, []).append(i)
    for b in ranked:
        ranked[b].sort(key=lambda i: (h15(str(i)), i))
    nbrs = set()
    for i in vecs:
        for j in range(k):
            hx = hashlib.md5(f"{i}_{j}".encode()).hexdigest()
            b = int(hx[:15], 16) % nb
            rk = int(hx[15:30], 16) % len(ranked[b])
            t = ranked[b][rk]
            if t != i:
                nbrs.add((i, t))

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(vecs[a], vecs[b]))

    out = None
    for _ in range(rounds):
        gen = nbrs | {(b, a) for a, b in nbrs}
        fwd = {}
        for a, b in gen:
            fwd.setdefault(a, set()).add(b)
        cand = set(gen)
        for a, mids in fwd.items():
            for m in mids:
                for b in fwd.get(m, ()):
                    if a != b:
                        cand.add((a, b))
        per = {}
        for a, b in cand:
            per.setdefault(a, []).append(b)
        out = []
        for a, bs in per.items():
            bs.sort(key=lambda b: (d2(a, b), b))
            out += [(a, b, d2(a, b), r + 1) for r, b in enumerate(bs[:k])]
        nbrs = {(a, b) for a, b, _, _ in out}
    return sorted(out)


def test_knn_graph_matches_python_replay(spark, embs):
    """X180: the distributed NN-Descent build must equal a full python
    replay (init addressing, candidate generation, integer distances,
    tie-breaks) — the same trajectory-pin style as k-center."""
    import math

    from mimic2ts_spark.operators.kmeans import QUANT
    from mimic2ts_spark.operators.knn import KNN_K, KNN_ROUNDS, knn_graph

    vecs = {
        r.vec_id: [math.floor(float(v) * QUANT) for v in r.embedding]
        for r in embs.select("vec_id", "embedding").collect()
    }
    got = sorted(tuple(r) for r in knn_graph(embs).collect())
    assert got == _knn_python_replay(vecs, KNN_K, KNN_ROUNDS)


def test_knn_graph_recall_floor(spark, embs):
    """X180: graph quality vs the TRUE k-NN graph — the property the
    algorithm-sharing oracle cannot check. Deterministic build ⇒ the
    measured 0.72 recall@8 reproduces exactly; floor guards dial
    changes (rounds/k/init) from silently degrading the graph."""
    import math

    import numpy as np

    from mimic2ts_spark.operators.kmeans import QUANT
    from mimic2ts_spark.operators.knn import KNN_K, knn_graph

    rows = embs.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array(
        [[math.floor(float(v) * QUANT) for v in r.embedding] for r in rows],
        dtype=np.int64,
    )
    got = {}
    for r in knn_graph(embs).collect():
        got.setdefault(r.id, set()).add(r.nbr)
    hit = tot = 0
    for i in range(len(ids)):
        D = ((X - X[i]) ** 2).sum(axis=1)
        D[i] = np.iinfo(np.int64).max
        true = {ids[j] for j in np.lexsort((ids, D))[:KNN_K]}
        hit += len(true & got.get(ids[i], set()))
        tot += KNN_K
    assert hit / tot >= 0.70


def test_knn_beam_recall_floor(spark, embs):
    """X181: beam-search serving vs the exact panel — measured
    recall@5 0.94 at (beam 32, hops 4, 4 entries); floor 0.9 guards
    dial retunes. Bit-exactness vs the unrolled oracle is the driver
    gate's job (q_ann_knn_beam)."""
    import math

    import numpy as np

    from mimic2ts_spark.harness_ext import _knn_graph
    from mimic2ts_spark.operators.kmeans import QUANT
    from mimic2ts_spark.operators.knn import knn_beam_topk

    g = _knn_graph(spark, f"{SF}")
    beam = knn_beam_topk(embs, embs.where(F.col("vec_id") < 32), g, k=5)
    got = {}
    for r in beam.collect():
        got.setdefault(r.qid, set()).add(r.nbr)
    rows = embs.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array(
        [[math.floor(float(v) * QUANT) for v in r.embedding] for r in rows],
        dtype=np.int64,
    )
    hit = tot = 0
    for i in range(len(ids)):
        if ids[i] >= 32:
            continue
        D = ((X - X[i]) ** 2).sum(axis=1)
        true = {ids[j] for j in np.lexsort((ids, D))[:5]}
        hit += len(true & got.get(ids[i], set()))
        tot += 5
    assert hit / tot >= 0.90


def test_derived_nprobe_dial():
    """r14 (the r06 derived-dial rule closing the 1.2M handoff
    finding): nprobe floors at IVF_NPROBE for every oracle-gated
    corpus size (values and SQL-literal mirrors unchanged), doubles
    per corpus doubling past the cell-train cap, and caps at cells/4 —
    the measured 1.2M point (64 of 256 cells → recall@5 0.869 vs 0.219
    at the fixed floor)."""
    from mimic2ts_spark.operators.kmeans import KM_TRAIN_CAP
    from mimic2ts_spark.operators.similarity import (
        IVF_NPROBE,
        derived_cells,
        derived_nprobe,
    )

    for n in (500, 2000, 20000, KM_TRAIN_CAP):
        assert derived_nprobe(n) == IVF_NPROBE
    assert derived_nprobe(KM_TRAIN_CAP * 2) == IVF_NPROBE * 2
    assert derived_nprobe(200_000) == 16
    assert derived_nprobe(1_200_000) == 64
    assert derived_nprobe(10**9) == derived_cells(10**9) // 4 == 64


def test_registry_rows_serve_from_artifacts(spark, embs):
    """VERDICT r13 #2: the registry's SQ8/PQ rows and q_ann_recall's BQ
    candidate relation serve from the persisted `maintain *-codes`
    artifacts; served == scan is pinned row-for-row here, which is what
    keeps the UNCHANGED scan-form oracle SQL a valid gate for the
    artifact-served path (the q_ann_ivf_indexed precedent)."""
    from mimic2ts_spark import harness_ext as HX
    from mimic2ts_spark.operators.pq import (
        BQ_RESCORE_CAND,
        bq_hamming_panel,
        pq_adc_topk,
        serve_bq_artifact,
        sq8_l2_panel,
    )

    qs = embs.where(F.col("vec_id") < HX.SQ8_TOPK_QUERIES)
    got = sorted(tuple(r) for r in HX.q_sq8_topk(spark, SF).collect())
    want = sorted(
        tuple(r)
        for r in sq8_l2_panel(
            embs, qs, k=HX.SQ8_TOPK_K, cache_key=SF
        ).collect()
    )
    assert got == want and got

    got_pq = [tuple(r) for r in HX.q_ann_pq(spark, SF).collect()]
    want_pq = [tuple(r) for r in pq_adc_topk(embs, cache_key=SF).collect()]
    assert got_pq == want_pq and got_pq

    from mimic2ts_spark.operators.pq import ivfpq_topk

    got_iq = sorted(tuple(r) for r in HX.q_ann_ivfpq(spark, SF).collect())
    want_iq = sorted(
        tuple(r) for r in ivfpq_topk(embs, cache_key=SF).collect()
    )
    assert got_iq == want_iq and got_iq

    art = HX._codes_artifact_dir(spark, SF, "bq")
    qs2 = embs.where(F.col("vec_id") < HX.ANN_RECALL_QUERIES)
    got_bq = sorted(
        tuple(r)
        for r in serve_bq_artifact(
            spark, art, qs2, k=BQ_RESCORE_CAND
        ).collect()
    )
    want_bq = sorted(
        tuple(r)
        for r in bq_hamming_panel(embs, qs2, k=BQ_RESCORE_CAND).collect()
    )
    assert got_bq == want_bq and got_bq


def test_knn_beam_filtered_routes_and_visited_theorem(spark, embs):
    """X228: filtered ANN on the graph tier — the last cell of the
    filter × serving-tier matrix. Pins: (a) the visited-ranking theorem
    (allowed = everything ⇒ filtered 'graph' route EQUALS the plain
    beam top-k row-for-row — a beam-evicted node is worse than the
    then-current beam-worst, which only improves); (b) a selective
    filter routes to the exact int-L2 panel over the allowed subset
    (recall 1.0 by construction, containment); (c) a broad filter
    routes 'graph', returns only allowed neighbors, and per query is
    at least as good as post-filtering the plain beam's k (more rows,
    k-th distance ≤) — the under-returning textbook form it replaces."""
    from mimic2ts_spark.harness_ext import _knn_graph
    from mimic2ts_spark.operators.knn import knn_beam_topk, knn_beam_topk_filtered
    from mimic2ts_spark.operators.pq import brute_force_l2_panel

    g = _knn_graph(spark, f"{SF}")
    qs = embs.where(F.col("vec_id") < 8)

    # (a) allowed = everything → 'graph' route == plain beam top-k
    allow_all = embs.select("vec_id")
    got = knn_beam_topk_filtered(embs, qs, g, allow_all, k=5)
    assert {r[0] for r in got.select("route").distinct().collect()} == {"graph"}
    a = sorted((r.qid, r.nbr, r.d2, r.rank) for r in got.collect())
    b = sorted(tuple(r) for r in knn_beam_topk(embs, qs, g, k=5).collect())
    assert a == b and a

    # (b) selective → exact over the allowed subset
    sel = embs.where(F.col("vec_id") % 16 == 1).select("vec_id")
    ok = {r.vec_id for r in sel.collect()}
    got_s = knn_beam_topk_filtered(embs, qs, g, sel, k=5)
    assert {r[0] for r in got_s.select("route").distinct().collect()} == {"exact"}
    rows_s = got_s.collect()
    assert rows_s and all(r.nbr in ok for r in rows_s)
    want_s = {
        (r.query_id, r.neighbor_id, r.d2)
        for r in brute_force_l2_panel(
            embs.join(sel, "vec_id", "left_semi"), qs, 5
        ).collect()
    }
    assert {(r.qid, r.nbr, r.d2) for r in rows_s} == want_s

    # (c) broad → 'graph', containment, ≥ post-filter quality per query
    broad = embs.where(F.col("vec_id") % 7 != 0).select("vec_id")
    ok_b = {r.vec_id for r in broad.collect()}
    got_b = knn_beam_topk_filtered(embs, qs, g, broad, k=5)
    assert {r[0] for r in got_b.select("route").distinct().collect()} == {"graph"}
    by_q: dict = {}
    for r in got_b.collect():
        assert r.nbr in ok_b
        by_q.setdefault(r.qid, []).append(r.d2)
    post: dict = {}
    for r in knn_beam_topk(embs, qs, g, k=5).collect():
        if r.nbr in ok_b:
            post.setdefault(r.qid, []).append(r.d2)
    for qid, dists in post.items():
        fd = sorted(by_q.get(qid, []))
        pd_ = sorted(dists)
        assert len(fd) >= len(pd_)
        for i, d in enumerate(pd_):
            assert fd[i] <= d

    # (d) self-match convention per route (ADVICE r13): the 'exact'
    # route excludes the query itself (brute-panel convention), the
    # 'graph' route returns an allowed+reachable query at rank 1 with
    # d2 = 0 (the plain beam's HNSW-style self-inclusion)
    assert all(r.qid != r.nbr for r in rows_s)
    self_rows = [r for r in got_b.collect() if r.qid == r.nbr]
    assert self_rows  # broad allows vec_id % 7 != 0 ⇒ queries 1..6
    assert all(r.d2 == 0 and r.rank == 1 for r in self_rows)


def test_graph_serving_cap_guard(spark, embs, tmp_path, monkeypatch):
    """VERDICT r11 #2: the graph-tier serving budget is a GUARD, not a
    README note — serving at/past GRAPH_SERVE_MAX_N raises naming the
    SQ8/IVF/brute tiers ('warn' serves with a RuntimeWarning); below
    the cap it is silent. The artifact path fires off a stub-size META
    (no count job), the scan path off the memoized dial count."""
    import json
    import warnings

    import pytest as _pytest

    from mimic2ts_spark.harness_ext import _knn_graph
    from mimic2ts_spark.operators import knn as K

    qs = embs.where(F.col("vec_id") < 2)
    g = _knn_graph(spark, f"{SF}")

    # silent below the cap (real corpus is ~500-2000 vectors)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        K.knn_beam_topk(embs, qs, g, k=3).count()

    # scan path: shrink the cap so the memoized count crosses it
    monkeypatch.setattr(K, "GRAPH_SERVE_MAX_N", 10)
    with _pytest.raises(K.GraphTierOverCapacity, match="sq8_l2_panel"):
        K.knn_beam_topk(embs, qs, g, k=3)
    with _pytest.warns(RuntimeWarning, match="ivf_topk"):
        got = K.knn_beam_topk(embs, qs, g, k=3, on_scale="warn")
    assert got.count() > 0  # warn mode still serves

    # artifact path: guard reads the STUB meta n, never a count job
    monkeypatch.setattr(K, "GRAPH_SERVE_MAX_N", 1_000_000)
    art = str(tmp_path / "kg")
    K.build_knn_artifact(spark, art, embs.where(F.col("vec_id") < 64))
    meta = json.load(open(f"{art}/{K.KNN_META}"))
    meta["n"] = 2_000_000
    json.dump(meta, open(f"{art}/{K.KNN_META}", "w"))
    with _pytest.raises(K.GraphTierOverCapacity, match="brute_force_topk"):
        K.serve_knn_artifact(spark, art, qs, k=3)


def test_bq_pack_and_panel_replay(spark, embs):
    """X218 BQ tier: the packed sign lanes equal a python MSB-first
    fold bit-for-bit, and the Hamming panel equals a numpy replay
    (sign pack → xor popcount → (hamming, id) top-k) — the oracle
    hash gate then re-proves the DuckDB mirror every round."""
    import numpy as np

    from mimic2ts_spark.operators.pq import bq_codes, bq_hamming_panel

    rows = embs.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([list(r.embedding) for r in rows])
    B = (X > 0).astype(np.int64)
    lanes = np.zeros((len(ids), 2), dtype=np.int64)
    for h in range(2):
        for i in range(32):
            lanes[:, h] = lanes[:, h] * 2 + B[:, h * 32 + i]
    got = {r.vec_id: (r.b0, r.b1) for r in bq_codes(embs).collect()}
    for j, vid in enumerate(ids):
        assert got[int(vid)] == (int(lanes[j, 0]), int(lanes[j, 1]))

    k = 5
    panel = bq_hamming_panel(embs, embs.where(F.col("vec_id") < 8), k=k)
    got_p = {}
    for r in panel.collect():
        got_p.setdefault(r.query_id, []).append((r.hamming, r.neighbor_id))
    for qi in range(8):
        q = lanes[ids == qi][0]
        ham = np.array(
            [
                bin(int(lanes[j, 0]) ^ int(q[0])).count("1")
                + bin(int(lanes[j, 1]) ^ int(q[1])).count("1")
                for j in range(len(ids))
            ]
        )
        order = [
            (int(ham[j]), int(ids[j]))
            for j in np.lexsort((ids, ham))
            if ids[j] != qi
        ][:k]
        assert sorted(got_p[qi]) == order


def test_bq_rescore_beats_raw_sketch(spark, embs):
    """X218: the deployed two-stage shape (Hamming candidates → exact
    int-L2 rescore) must recover recall the raw 64-bit sketch loses —
    measured 0.272 → 0.728 at sf0.01, floors with margin. Both stages
    are deterministic, so the floor is tight."""
    import numpy as np

    from mimic2ts_spark.operators import pq as PQ

    k, nq = 10, 32
    qs = embs.where(F.col("vec_id") < nq)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in PQ.brute_force_l2_panel(embs, qs, k=k)
        .select("query_id", "neighbor_id")
        .collect()
    }

    def recall(df):
        hits = sum(
            (r.query_id, r.neighbor_id) in exact for r in df.collect()
        )
        return hits / (nq * k)

    raw = recall(PQ.bq_hamming_panel(embs, qs, k=k))
    rescored = recall(PQ.bq_rescore_panel(embs, qs, k=k))
    assert rescored >= 0.60  # measured 0.728 at sf0.001-shaped corpora
    assert rescored > raw


def test_filtered_topk_routing_and_containment(spark, embs):
    """X219 filtered ANN: the selectivity router must pick the exact
    panel at/below the 1/8 share boundary and the IVF-probe branch
    above it; every returned neighbor must be ALLOWED (the pre-rank
    semi-join — post-filtering a fixed top-k is the wrong form this
    operator exists to avoid), and the exact route returns a full k
    per query whenever the allowed set is large enough."""
    from mimic2ts_spark.operators.similarity import (
        FILTERED_SELECTIVE_DEN,
        filtered_topk,
    )

    n = embs.count()
    qs = embs.where(F.col("vec_id") < 4)
    k = 5

    sel = embs.where(F.col("vec_id") % 16 == 1).select("vec_id")
    n_sel = sel.count()
    assert n_sel * FILTERED_SELECTIVE_DEN <= n  # below the boundary
    rows = filtered_topk(embs, qs, sel, k=k, cache_key=f"{SF}").collect()
    allowed_ids = {r.vec_id for r in sel.collect()}
    assert {r.route for r in rows} == {"exact"}
    assert all(r.neighbor_id in allowed_ids for r in rows)
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, k + 1)) for v in per_q.values())

    broad = embs.where(F.col("vec_id") % 7 != 0).select("vec_id")
    assert broad.count() * FILTERED_SELECTIVE_DEN > n  # above the boundary
    rows_b = filtered_topk(embs, qs, broad, k=k, cache_key=f"{SF}").collect()
    allowed_b = {r.vec_id for r in broad.collect()}
    assert {r.route for r in rows_b} == {"ivf"}
    assert all(r.neighbor_id in allowed_b for r in rows_b)


def test_filtered_quantized_tiers_pre_cut_and_selective_recall(spark, embs):
    """X221 (VERDICT r11 #4): the quantized serving tiers' filtered
    forms obey the same pre-cut doctrine as the IVF branch — every
    returned neighbor is ALLOWED on both routes at both selectivities
    (the candidate cut ranks only allowed survivors, never a
    post-filter), and at high selectivity (|allowed| ≤ cand) the
    candidate stage degenerates to ALL allowed ids, so both quantized
    routes return EXACTLY the exact-cosine top-k over the allowed
    subset — recall 1.0 at the selective boundary by construction."""
    from mimic2ts_spark.operators.similarity import (
        brute_force_topk,
        filtered_topk_bq,
        filtered_topk_sq8,
    )

    qs = embs.where(F.col("vec_id") < 4)
    k = 5

    sel = embs.where(F.col("vec_id") % 16 == 1).select("vec_id")
    assert sel.count() <= 64  # within the candidate budget → exact
    sub = embs.join(sel, "vec_id", "left_semi")
    truth = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk(sub, qs, k=k).collect()
    }
    for fn, route in ((filtered_topk_bq, "bq"), (filtered_topk_sq8, "sq8")):
        rows = fn(embs, qs, sel, k=k).collect()
        assert {r.route for r in rows} == {route}
        assert {(r.query_id, r.neighbor_id, r.rank) for r in rows} == truth

    broad = embs.where(F.col("vec_id") % 7 != 0).select("vec_id")
    allowed_b = {r.vec_id for r in broad.collect()}
    for fn, route in ((filtered_topk_bq, "bq"), (filtered_topk_sq8, "sq8")):
        rows = fn(embs, qs, broad, k=k).collect()
        assert {r.route for r in rows} == {route}
        assert all(r.neighbor_id in allowed_b for r in rows)
        per_q: dict = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append(r.rank)
        assert all(sorted(v) == list(range(1, k + 1)) for v in per_q.values())


def test_serving_dials_schedule():
    """X181 derived serving dials (VERDICT r10 #2): floors at every
    oracle-gated corpus size (the static SQL mirror's validity regime),
    then the measured log2 schedule — beam doubles per corpus doubling
    past RING_BUCKET, entries every other, hops +1 every other, capped
    at the serving budget. Values pinned at the sweep's measured
    points (knn.py dial table)."""
    from mimic2ts_spark.operators.knn import serving_dials

    assert serving_dials(500) == (32, 4, 4)    # sf0.001 / sf0.01
    assert serving_dials(2000) == (32, 4, 4)   # sf0.1
    assert serving_dials(4096) == (32, 4, 4)   # knee
    assert serving_dials(8192) == (64, 5, 8)
    assert serving_dials(20_000) == (256, 6, 16)
    assert serving_dials(200_000) == (1024, 7, 32)
    assert serving_dials(10_000_000) == (1024, 8, 64)  # capped budget


def test_beam_derived_dials_recall_floor(spark):
    """X181 derived-dial recall at a past-the-knee scale (VERDICT r10
    #2): on an 8192-vector md5-uniform UNIT corpus (the validated
    stand-in for the testdata distribution — see
    scripts/knn_recall_sweep.py) the FLOOR dials measure recall@5
    0.2125 and serving_dials(8192) = (64, 5, 8) measures 0.4688; the
    whole pipeline is deterministic (md5 corpus, md5 init, integer
    distances), so the floors pin with only a small safety margin.
    Sweep rows of record at 20k/200k: knn.py dial table."""
    from scripts.knn_recall_sweep import synth_corpus
    from mimic2ts_spark.operators import pq as PQ
    from mimic2ts_spark.operators.knn import (
        knn_beam_topk,
        knn_graph,
        serving_dials,
    )

    n, k, nq = 8192, 5, 32
    assert serving_dials(n) == (64, 5, 8)
    embs = synth_corpus(spark, n).persist()
    embs.count()
    qs = embs.where(F.col("vec_id") < nq)
    exact = (
        PQ.brute_force_l2_panel(embs, qs, k=k)
        .select("query_id", "neighbor_id")
        .persist()
    )
    graph = knn_graph(embs).persist()

    def recall(beam, hops, entries):
        approx = knn_beam_topk(
            embs, qs, graph, k=k, beam=beam, hops=hops, entries=entries
        ).select(
            F.col("qid").alias("query_id"), F.col("nbr").alias("neighbor_id")
        )
        return exact.join(
            approx, ["query_id", "neighbor_id"], "left_semi"
        ).count() / (nq * k)

    derived = recall(*serving_dials(n))
    floor = recall(32, 4, 4)
    assert derived >= 0.42  # measured 0.4688
    assert derived > floor  # the derived schedule must beat the floors
    graph.unpersist()
    exact.unpersist()
    embs.unpersist()


def test_knn_init_windows_stay_bucket_partitioned(spark, embs):
    """X180 scale pin: the init ranking windows must partition by the
    md5 bucket — a corpus-wide single-partition window would
    materialize the corpus in one task at scale."""
    from mimic2ts_spark.operators.kmeans import quantize
    from mimic2ts_spark.operators.knn import _init_random

    base = embs.select(
        F.col("vec_id").alias("id"), quantize(F.col("embedding")).alias("x")
    )
    # derived buckets >1 exercises the partitioned path (n=500 → force 8)
    plan = _init_random(base, 4096 * 8, 8)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_known_item_mrr_floor_and_exact_reciprocals(spark, docs):
    """X182: the known-item eval must (a) clear the measured MRR floor
    (0.82 at sf0.001, deterministic — guards BM25 arithmetic and panel
    construction from silent degradation), (b) report reciprocal ranks
    as exact 2520-scaled integers consistent with rank_found, and
    (c) place every found source doc as its own query's hit."""
    from mimic2ts_spark.operators.search import MRR_RR_SCALE, known_item_mrr

    rows = known_item_mrr(docs).collect()
    assert len(rows) == 32
    for r in rows:
        if r.rank_found:
            assert r.rr_scaled == MRR_RR_SCALE // r.rank_found
            if r.rank_found == 1:
                assert r.top1_doc == r.qid
        else:
            assert r.rr_scaled == 0
    mrr = sum(r.rr_scaled for r in rows) / (len(rows) * MRR_RR_SCALE)
    assert mrr >= 0.80


def test_sq8_reconstruction_error_bounded(spark, embs):
    """X211: scalar quantization's contract — reconstructing
    v̂ = lo + code·(hi−lo)/255 from the int8 code must land within one
    quantization step of the original on EVERY (vec, dim), codes stay
    in [0, 255], and hi-coordinate values hit the top code."""
    from mimic2ts_spark.operators.pq import (
        SQ8_LEVELS,
        sq8_quantize_rows,
        sq8_stats,
    )

    stats = {r.dim: (r.lo, r.hi) for r in sq8_stats(embs).collect()}
    orig = {
        (r.vec_id, r.dim): r.v
        for r in embs.select(
            "vec_id", F.posexplode("embedding").alias("dim", "v")
        ).collect()
    }
    codes = sq8_quantize_rows(embs).collect()
    assert len(codes) == len(orig)
    top_hit = 0
    for r in codes:
        lo, hi = stats[r.dim]
        assert 0 <= r.code <= SQ8_LEVELS
        step = (hi - lo) / SQ8_LEVELS if hi > lo else 0.0
        recon = lo + r.code * step
        assert abs(orig[(r.vec_id, r.dim)] - recon) <= step + 1e-12
        top_hit += r.code == SQ8_LEVELS
    assert top_hit >= len(stats)  # every dim's max lands on the top code


def test_dedup_cluster_labels_equal_raw(spark, docs):
    """r09: q_dedup_clusters' labeling is the exact-first canonical
    composition; this pins the equality theorem against the RAW
    minhash-pair CC (identical text ⇒ identical signature ⇒ components
    project exactly; component min over canonicals = min over all
    members). The gate re-proves it via the raw recursive-CTE oracle,
    but only this test computes the raw SPARK form."""
    from mimic2ts_spark.harness_ext import _dedup_cluster_labels
    from mimic2ts_spark.operators import dedup as D
    from mimic2ts_spark.operators.cluster import canonical_ids

    canonical = {
        r.doc_id: r.cluster_id
        for r in _dedup_cluster_labels(spark, SF).collect()
    }
    raw_pairs = D.minhash_lsh_pairs(docs, threshold=0.8)
    raw = {
        r.doc_id: r.cluster_id
        for r in canonical_ids(docs.select("doc_id"), raw_pairs).collect()
    }
    assert canonical == raw and canonical


def test_dedup_cluster_labels_short_dup_docs(spark):
    """ADVICE r09: duplicated docs SHORTER than SHINGLE_N tokens never
    pair in the raw minhash graph (minhash_lsh_pairs filters
    size(tokens) >= SHINGLE_N), so the raw CC labels each copy with its
    own doc_id. The exact-first composition must match — its
    exact-group projection is restricted to >= SHINGLE_N-token docs
    (exact groups are homogeneous in token count, so eligibility is a
    group property). Constructed fixture: duplicated empty / one-word /
    two-word docs keep SELF labels; duplicated long docs collapse."""
    from mimic2ts_spark.harness_ext import dedup_cluster_labels_for
    from mimic2ts_spark.operators import dedup as D
    from mimic2ts_spark.operators.cluster import canonical_ids

    rows = [
        (1, ""),
        (2, ""),
        (3, "hello"),
        (4, "hello"),
        (5, "a b"),
        (6, "a b"),
        (7, "the quick brown fox jumps"),
        (8, "the quick brown fox jumps"),
        (9, "one two three four five"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_cluster_labels_for(docs).collect()
    }
    raw_pairs = D.minhash_lsh_pairs(docs, threshold=0.8)
    raw = {
        r.doc_id: r.cluster_id
        for r in canonical_ids(docs.select("doc_id"), raw_pairs).collect()
    }
    assert got == raw
    for did in (1, 2, 3, 4, 5, 6):  # sub-shingle dups: self labels
        assert got[did] == did
    assert got[7] == 7 and got[8] == 7  # long dups collapse
    assert got[9] == 9


def test_jl_projection_preserves_distances(spark):
    """X209: the JL moment identity E[d_proj] = out_dim·d_orig must
    show up on the panel — mean ratio within [0.8, 1.25] of 1 at
    16 output dims (deterministic md5 signs ⇒ exact pin would also
    hold, but the INTERVAL is the property the operator sells), every
    ratio positive, full 64-pair panel emitted."""
    from mimic2ts_spark.harness_ext import JL_RATIO_SCALE, q_jl_projection

    rows = q_jl_projection(spark, SF).collect()
    assert len(rows) == 64
    ratios = [r.ratio_scaled / JL_RATIO_SCALE for r in rows]
    assert all(r > 0 for r in ratios)
    mean = sum(ratios) / len(ratios)
    assert 0.8 <= mean <= 1.25, mean


def test_quality_classifier_replay_and_gate(spark, docs):
    """X208: the hashed-linear scores must reproduce a hashlib/python
    replay exactly (bucketing, shared collision weights, margin), and
    the keep/drop gate must fire BOTH classes on the shipped corpus
    (a one-sided gate measures nothing)."""
    import hashlib
    import re

    from mimic2ts_spark.operators.text import CLS_DIM, classifier_scores

    rows = {r.doc_id: r for r in classifier_scores(docs).collect()}
    labels = {r.label for r in rows.values()}
    assert labels == {"keep", "drop"}

    def code(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for d in docs.orderBy("doc_id").limit(20).collect():
        toks = re.split(r"\s+", d.text)
        score = sum(
            (code(f"w:{code(t) % CLS_DIM}") % 201) - 100 for t in toks
        )
        r = rows[d.doc_id]
        assert (r.score, r.n_tokens) == (score, len(toks))
        assert r.label == ("keep" if score >= 0 else "drop")


def test_retrieval_map_floor_and_exact_rationals(spark, docs):
    """X207: the near-dup MAP eval must (a) clear the measured floor
    (0.785 at sf0.001, deterministic — guards the ranking arithmetic
    and ground-truth construction), (b) keep every AP an exact
    2520-scaled integer within [0, 2520], and (c) never report more
    hits than min(n_rel, k)."""
    from mimic2ts_spark.operators import dedup as D
    from mimic2ts_spark.operators.search import MRR_K, MRR_RR_SCALE, neardup_map_at_k

    rows = neardup_map_at_k(
        docs, D.canonical_near_dup_pairs(docs, threshold=0.8)
    ).collect()
    assert len(rows) == 32
    for r in rows:
        assert 0 <= r.ap_scaled <= MRR_RR_SCALE
        assert r.n_hits <= min(r.n_rel, MRR_K)
        assert (r.ap_num == 0) == (r.n_hits == 0)
    map_ = sum(r.ap_scaled for r in rows) / (len(rows) * MRR_RR_SCALE)
    assert map_ >= 0.70


def test_seed_hop_distance_matches_python_bfs(spark, embs):
    """X183: the distributed min-propagation must equal a python BFS
    over the replayed X180 graph (same seeds, same symmetrized edges,
    distances capped at the hop budget, -1 = unreached)."""
    import hashlib
    import math

    from mimic2ts_spark.harness_ext import _knn_graph
    from mimic2ts_spark.operators.kmeans import QUANT
    from mimic2ts_spark.operators.knn import (
        BFS_HOPS,
        BFS_SEEDS,
        KNN_K,
        KNN_ROUNDS,
        seed_hop_distance,
    )

    vecs = {
        r.vec_id: [math.floor(float(v) * QUANT) for v in r.embedding]
        for r in embs.select("vec_id", "embedding").collect()
    }
    graph = _knn_python_replay(vecs, KNN_K, KNN_ROUNDS)
    adj = {}
    for a, b, _, _ in graph:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def h15(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    seeds = sorted(vecs, key=lambda i: (h15(str(i)), i))[:BFS_SEEDS]
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, BFS_HOPS + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = h
                    nxt.add(v)
        frontier = nxt
    want = sorted((i, dist.get(i, -1)) for i in vecs)
    got = sorted(
        (r.vec_id, r.dist)
        for r in seed_hop_distance(embs, _knn_graph(spark, SF)).collect()
    )
    assert got == want
    assert sum(1 for _, d in got if d == 0) == BFS_SEEDS
    assert any(d >= 1 for _, d in got)


def test_constraint_audit_fires_on_dirty_fixture(spark, tmp_path):
    """X192: on the pristine testdata every check reports 0 (pinned by
    the driver gate), so the FIRING path needs a constructed corpus —
    duplicate PKs, FK orphans and NULL keys must be counted exactly
    and attributed to the right check."""
    import shutil

    import pandas as pd

    from mimic2ts_spark.harness_ext import q_constraint_audit

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "dirty")
    shutil.copytree(src, d)
    cust = pd.read_parquet(f"{src}/customer.parquet")
    cust = pd.concat([cust, cust.head(3)], ignore_index=True)  # 3 dup PKs
    cust.to_parquet(f"{d}/customer.parquet", index=False)
    orders = pd.read_parquet(f"{src}/orders.parquet")
    orders.loc[orders.index[:5], "o_custkey"] = 10_000_000  # 5 orphans
    # pandas: use astype object to hold None for 2 NULL keys
    orders["o_custkey"] = orders["o_custkey"].astype("Int64")
    orders.loc[orders.index[5:7], "o_custkey"] = None
    orders.to_parquet(f"{d}/orders.parquet", index=False)

    got = {r.check: r.n_bad for r in q_constraint_audit(spark, d).collect()}
    assert got["pk_dup_customer"] == 3
    assert got["fk_orphan_orders.o_custkey"] == 5
    assert got["null_key_orders.o_custkey"] == 2
    # checks not targeted by the corruption stay quiet... except the
    # duplicated customers keep their (valid) nation keys
    assert got["fk_orphan_lineitem.l_orderkey"] == 0
    assert got["pk_dup_orders"] == 0


def test_sample_apportion_exact_budget_and_quota_property(spark):
    """X193: Hamilton allocation must (a) sum EXACTLY to the budget,
    (b) satisfy quota (floor(share) <= alloc <= ceil(share)), and
    (c) reproduce a python replay on the same counts."""
    from mimic2ts_spark.harness_ext import APPORTION_BUDGET, q_sample_apportion

    rows = q_sample_apportion(spark, SF).collect()
    total = sum(r.n_rows for r in rows)
    assert sum(r.alloc for r in rows) == APPORTION_BUDGET
    base = {r.event_type: (APPORTION_BUDGET * r.n_rows) // total for r in rows}
    rem = {r.event_type: (APPORTION_BUDGET * r.n_rows) % total for r in rows}
    for r in rows:
        assert base[r.event_type] <= r.alloc <= base[r.event_type] + 1
    left = APPORTION_BUDGET - sum(base.values())
    order = sorted(rem, key=lambda t: (-rem[t], t))
    want = {t: base[t] + (1 if i < left else 0) for i, t in enumerate(order)}
    assert {r.event_type: r.alloc for r in rows} == want


def test_assoc_rules_apriori_prune_lossless(spark):
    """X197/X198: the Apriori frequent-item pre-filter must be
    value-lossless (support is anti-monotone: n_ab <= min(n_a, n_b), so
    no pair at MINSUP can lose a member item) — pruned and unpruned
    minings must return identical rule sets on BOTH the uniform and the
    long-tail item vocabularies, and the long-tail vocabulary must
    actually exercise the prune (some item below MINSUP)."""
    from pyspark.sql import functions as F

    from mimic2ts_spark.harness_ext import (
        RULES_MINSUP,
        RULES_SKU_EXPR,
        assoc_rules_mine,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    for item_expr in ["l_partkey", RULES_SKU_EXPR.format(L="L")]:
        baskets = li.select(
            F.col("l_orderkey").alias("o"), F.expr(item_expr).alias("item")
        ).distinct()
        pruned = [tuple(r) for r in assoc_rules_mine(baskets, prune=True).collect()]
        full = [tuple(r) for r in assoc_rules_mine(baskets, prune=False).collect()]
        assert pruned == full and pruned

    sku = li.select(F.expr(RULES_SKU_EXPR.format(L="L")).alias("item"), "l_orderkey")
    counts = sku.distinct().groupBy("item").count()
    assert counts.where(F.col("count") < RULES_MINSUP).count() > 0


def test_bm25_maxscore_served_prunes_and_matches_full(spark, tmp_path):
    """X200: on the long-tail panel (one rare anchor + low-impact tail)
    the impact-index serving path must (a) take the PRUNE branch, (b)
    have a genuinely rare anchor (df < n/10 — the regime claim), and
    (c) bit-equal full serving. On the all-common panel the prune
    cannot fire and the fallback must still bit-equal full serving."""
    from mimic2ts_spark.harness_ext import (
        BM25_LONGTAIL_TERMS,
        BM25_QUERY_TERMS,
        _search_index_dir,
        _search_index_stats,
    )
    from mimic2ts_spark.operators.search import (
        bm25_from_postings,
        bm25_topk_maxscore_from_postings,
    )

    idx = _search_index_dir(spark, SF)
    stats = _search_index_stats(spark, idx)
    for terms, want_prune in [(BM25_LONGTAIL_TERMS, True), (BM25_QUERY_TERMS, None)]:
        st: dict = {}
        got = bm25_topk_maxscore_from_postings(
            spark, f"{idx}/postings", f"{idx}/impacts", stats, terms, _stats=st
        ).collect()
        full = bm25_from_postings(
            spark, f"{idx}/postings", stats, terms
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in full] and got
        if want_prune:
            assert st["pruned"] is True
            assert st["anchor"] == "dup"
            assert st["anchor_df"] * 10 < stats["n_docs"]
            assert st["bound_rest"] < st["theta"]


def test_stream_postings_ingest_multibatch_equals_full_scan(spark, tmp_path):
    """X204: the ingest contract is BATCHING-INVARIANT — the index
    drained as THREE microbatches (maxFilesPerTrigger=1 over three
    staged delta files) must serve BM25 bit-equal to one full
    corpus-scan scoring over all docs, exactly what the oracle re-proves
    for the single-batch registered form."""
    import pandas as pd

    from mimic2ts_spark.harness_ext import BM25_QUERY_TERMS
    from mimic2ts_spark.operators.search import bm25_topk
    from mimic2ts_spark.streaming import run_postings_ingest_available_now

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    delta_pdf = docs.where(F.col("doc_id") % 10 == 0).toPandas()
    stage = tmp_path / "delta"
    stage.mkdir()
    for i in range(3):
        part = delta_pdf[delta_pdf.index % 3 == i]
        part.to_parquet(stage / f"d{i}.parquet", index=False)
    delta = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
        .where(F.col("doc_id") % 10 == 0)
    )
    served = run_postings_ingest_available_now(
        spark, SF, str(tmp_path / "idx"), BM25_QUERY_TERMS, delta_stream=delta
    ).collect()
    full = bm25_topk(docs, BM25_QUERY_TERMS).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in full] and served


def test_stream_classifier_multibatch_equals_batch_apply(spark, tmp_path):
    """X210: the score-on-ingest gate is BATCHING-INVARIANT — docs
    drained as THREE microbatches (maxFilesPerTrigger=1) scored against
    the persisted weight artifact must equal the batch classifier apply
    over the same docs, exactly what the oracle re-proves for the
    single-drain registered form."""
    from mimic2ts_spark.operators.text import (
        build_classifier_weights,
        classifier_scores,
    )
    from mimic2ts_spark.streaming import run_classifier_available_now

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pdf = docs.toPandas()
    stage = tmp_path / "docs"
    stage.mkdir()
    for i in range(3):
        pdf[pdf.index % 3 == i].to_parquet(stage / f"d{i}.parquet", index=False)
    delta = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    wdir = str(tmp_path / "w")
    build_classifier_weights(spark, wdir)
    served = run_classifier_available_now(
        spark, SF, wdir, str(tmp_path / "scored"), delta_stream=delta
    ).collect()
    full = classifier_scores(docs).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, full)) and served


def test_cdc_chunks_survive_insertion_unlike_fixed_windows(spark):
    """X215's selling point: prepending a sentence shifts every token
    position, yet content-defined boundaries (a function of gram VALUES)
    keep all chunks outside the edit region byte-identical, while
    fixed-size windows at the same granularity lose essentially all of
    them. Also pins: chunks tile the doc exactly (start/len coverage),
    idx contiguity, and the sub-shingle one-chunk edge."""
    import hashlib

    from mimic2ts_spark.operators.dedup import cdc_chunks

    base_words = [f"w{hashlib.md5(str(i).encode()).hexdigest()[:6]}" for i in range(400)]
    orig = " ".join(base_words)
    shifted = "inserted preamble sentence " + orig
    docs = spark.createDataFrame(
        [(1, orig), (2, shifted), (3, "tiny doc"), (4, "")],
        "doc_id long, text string",
    )
    rows = cdc_chunks(docs).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for did, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rs] == list(range(1, len(rs) + 1))
        pos = 0
        for r in rs:  # exact tiling
            assert r.start_tok == pos
            pos += r.n_chunk_tokens
    assert len(by_doc[3]) == 1 and len(by_doc[4]) == 1  # sub-shingle docs

    h1 = {r.chunk_hash for r in by_doc[1]}
    h2 = {r.chunk_hash for r in by_doc[2]}
    shared = len(h1 & h2) / len(h1)
    assert shared >= 0.8, shared  # only the edit-region chunk may differ

    # fixed-size windows at the same expected granularity: positions
    # shift by 3 tokens, so NO window hash survives
    def fixed_hashes(words, w=16):
        return {
            hashlib.md5(" ".join(words[i : i + w]).encode()).hexdigest()
            for i in range(0, len(words), w)
        }

    f1 = fixed_hashes(orig.split(" "))
    f2 = fixed_hashes(shifted.split(" "))
    assert len(f1 & f2) == 0


def test_winnow_guarantee_and_density(spark):
    """X216's theorem (Schleimer et al. 2003): two docs sharing a token
    run of ≥ WINNOW_W + SHINGLE_N − 1 tokens MUST share a fingerprint
    code (the shared run holds a full gram window, whose minimum is
    selected in both docs), and selection density stays near 2/(W+1).
    Also pins: every W-gram window contains ≥1 selected position
    (coverage — the property that makes the sketch LOCAL), and short
    docs emit exactly one fingerprint."""
    import hashlib

    from mimic2ts_spark.operators.dedup import (
        SHINGLE_N,
        WINNOW_W,
        winnow_fingerprints,
    )

    def words(tag, k):
        return [
            f"{tag}{hashlib.md5(f'{tag}{i}'.encode()).hexdigest()[:6]}"
            for i in range(k)
        ]

    shared = words("s", WINNOW_W + SHINGLE_N - 1)  # exactly the bound
    doc_a = " ".join(words("a", 37) + shared + words("b", 23))
    doc_b = " ".join(words("c", 11) + shared + words("d", 41))
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, "short doc here four")],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(docs).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    codes_a = {r.code for r in by_doc[1]}
    codes_b = {r.code for r in by_doc[2]}
    assert codes_a & codes_b  # the guarantee at the exact threshold

    # coverage: every window of WINNOW_W gram positions holds a selection
    for did, n_toks in ((1, 37 + len(shared) + 23), (2, 11 + len(shared) + 41)):
        sel = sorted(r.pos for r in by_doc[did])
        m = n_toks - SHINGLE_N + 1
        for start in range(0, m - WINNOW_W + 1):
            assert any(start <= p < start + WINNOW_W for p in sel), (did, start)
        # density ≈ 2/(W+1), allow slack
        assert len(sel) <= m * 4 / (WINNOW_W + 1)

    assert len(by_doc[3]) == 1  # sub-W doc: single global min


def test_stream_sq8_stats_multibatch_equals_batch(spark, tmp_path):
    """X214: the streaming quantizer calibration is BATCHING-INVARIANT
    — vectors drained as THREE microbatches (maxFilesPerTrigger=1) must
    yield exactly the batch sq8_int_stats table (min/max are monotone
    merges; a pure function of the final vector set)."""
    from mimic2ts_spark.operators.pq import _quant_base, sq8_int_stats
    from mimic2ts_spark.streaming import run_sq8_stats_available_now

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = embs.toPandas()
    stage = tmp_path / "embs"
    stage.mkdir()
    for i in range(3):
        pdf[pdf.index % 3 == i].to_parquet(stage / f"e{i}.parquet", index=False)
    delta = (
        spark.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    served = sorted(
        (int(r["dim"]), int(r["lo"]), int(r["hi"]))
        for r in run_sq8_stats_available_now(spark, SF, stream=delta).collect()
    )
    batch = sq8_int_stats(_quant_base(embs, "vec_id", "embedding"))
    assert served == batch and len(served) == 64


def test_stream_bq_ingest_multibatch_equals_rebuild(spark, tmp_path):
    """X220: streaming BQ index ingest is BATCHING-INVARIANT in the
    strongest form — the pack is a stateless row-local projection, so
    an empty index grown by THREE microbatches (maxFilesPerTrigger=1)
    serves bit-equal to a one-shot `bq-codes` rebuild over the same
    vectors."""
    from mimic2ts_spark.operators.pq import (
        build_bq_artifact,
        serve_bq_artifact,
    )
    from mimic2ts_spark.streaming import run_bq_ingest_available_now

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = embs.toPandas()
    stage = tmp_path / "embs"
    stage.mkdir()
    for i in range(3):
        pdf[pdf.index % 3 == i].to_parquet(stage / f"e{i}.parquet", index=False)

    # seed an EMPTY artifact, then drain the stream into it
    grown = str(tmp_path / "bq_grown")
    build_bq_artifact(spark, grown, embs.where(F.lit(False)))
    delta = (
        spark.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    totals = run_bq_ingest_available_now(spark, grown, delta)
    assert totals["batches"] == 3 and totals["rows"] == embs.count()

    rebuilt = str(tmp_path / "bq_rebuilt")
    build_bq_artifact(spark, rebuilt, embs)
    qs = embs.where(F.col("vec_id") < 4)
    a = {tuple(r) for r in serve_bq_artifact(spark, grown, qs, k=5).collect()}
    b = {tuple(r) for r in serve_bq_artifact(spark, rebuilt, qs, k=5).collect()}
    assert a == b and a


def test_stream_ivf_ingest_multibatch_equals_rebuild(spark, tmp_path):
    """X223: streaming IVF postings ingest is BATCHING-INVARIANT —
    assignment is a pure per-row function of the FIXED loaded cells, so
    a base index grown by THREE microbatches (maxFilesPerTrigger=1)
    holds postings bit-equal to one in-process assignment of the same
    delta, serving from the grown index works, and a REPLAYED batch
    appends nothing (the shared idempotent append)."""
    from mimic2ts_spark.maintain import main
    from mimic2ts_spark.operators.kmeans import load_centroids
    from mimic2ts_spark.operators.similarity import (
        append_ivf_artifact,
        assign_vectors,
        serve_ivf_artifact,
    )
    from mimic2ts_spark.streaming import run_ivf_ingest_available_now

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = embs.where(F.col("vec_id") % 4 != 0)
    delta = embs.where(F.col("vec_id") % 4 == 0)
    base_dir = str(tmp_path / "base")
    base.write.parquet(base_dir)
    out = str(tmp_path / "ivf")
    main(["ivf", out, base_dir])

    pdf = delta.toPandas()
    stage = tmp_path / "delta"
    stage.mkdir()
    for i in range(3):
        pdf[pdf.index % 3 == i].to_parquet(stage / f"d{i}.parquet", index=False)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    totals = run_ivf_ingest_available_now(spark, out, stream)
    assert totals["batches"] == 3 and totals["rows"] == delta.count()

    cents, _ = load_centroids(f"{out}/centroids.json")
    expect = {
        r.vec_id: (r.cid, r.d) for r in assign_vectors(delta, cents).collect()
    }
    got = {
        r.vec_id: (int(r.cid), r.d)
        for r in spark.read.parquet(f"{out}/postings").collect()
        if r.vec_id % 4 == 0
    }
    assert got == expect

    # replayed delta: the shared append refuses stored ids
    replay = append_ivf_artifact(spark, out, delta)
    assert replay["n_delta"] == 0 and replay["n_postings"] == embs.count()

    served = serve_ivf_artifact(
        spark, out, embs.where(F.col("vec_id") < 4), embs, k=5
    )
    assert served.count() > 0


def test_ivf_append_flat_layout_migration_and_batch_dupes(spark, tmp_path):
    """Two append hazards pinned (r12 review): (a) a PRE-r12 artifact
    holds FLAT postings (cid as a data column) — a partitioned append
    into that directory would corrupt it unreadably, so the append
    detects and MIGRATES the layout first; (b) a delta carrying the
    same NEW id twice must append exactly one posting row (the
    anti-join only covers STORED ids)."""
    import json as _json

    from mimic2ts_spark.operators.kmeans import (
        save_centroids,
        train_coarse,
    )
    from mimic2ts_spark.operators.similarity import (
        append_ivf_artifact,
        assign_vectors,
        derived_cells,
        serve_ivf_artifact,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = embs.where(F.col("vec_id") % 4 != 0)
    out = tmp_path / "ivf_flat"
    out.mkdir()
    n = base.count()
    cents = train_coarse(embs, derived_cells(n), n=n)
    save_centroids(cents, str(out / "centroids.json"), meta={"n_base": n})
    # simulate the pre-r12 layout: postings written FLAT
    assign_vectors(base, cents).write.mode("overwrite").parquet(
        str(out / "postings")
    )

    # delta with every new id DUPLICATED
    delta = embs.where(F.col("vec_id") % 4 == 0)
    dup_delta = delta.unionByName(delta)
    audit = append_ivf_artifact(spark, str(out), dup_delta)
    assert audit["n_delta"] == delta.count()  # one row per new id
    post = spark.read.parquet(str(out / "postings"))
    assert post.count() == embs.count() == audit["n_postings"]
    assert post.groupBy("vec_id").count().where(F.col("count") > 1).count() == 0
    # migrated to the partitioned layout: serving's partition filter works
    import os as _os

    assert any(e.startswith("cid=") for e in _os.listdir(out / "postings"))
    served = serve_ivf_artifact(
        spark, str(out), embs.where(F.col("vec_id") < 4), embs, k=5
    )
    assert served.count() > 0


def test_serve_ivf_carried_coordinates_no_src_join(spark, tmp_path):
    """r15 (VERDICT r14 #2): fresh `maintain ivf` postings CARRY the raw
    coordinates (the IVF-Flat layout) — the serve-time exact re-rank
    reads nvec from the probed cells' own files and the plan never
    touches the raw corpus parquet (the former per-serve key join cost
    a full corpus scan at 100 TB). Pre-r15 slim artifacts keep the
    src-join path, appends to them stay slim (no mixed schemas inside
    one partitioned tree), and served rows are bit-equal across the two
    layouts — the stored vector is the same float array parquet
    round-trips losslessly."""
    import os as _os
    import shutil as _shutil

    from mimic2ts_spark.maintain import main
    from mimic2ts_spark.operators.kmeans import load_centroids
    from mimic2ts_spark.operators.similarity import (
        append_ivf_artifact,
        assign_vectors,
        serve_ivf_artifact,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = embs.where(F.col("vec_id") % 4 != 0)
    delta = embs.where(F.col("vec_id") % 4 == 0)
    base_dir = str(tmp_path / "srcvecs")
    base.write.parquet(base_dir)

    out = str(tmp_path / "ivf_carried")
    main(["ivf", out, base_dir])
    assert "vec" in spark.read.parquet(f"{out}/postings").columns
    append_ivf_artifact(spark, out, delta)
    post = spark.read.parquet(f"{out}/postings")
    # appended rows carry coordinates too — no nulls in the merged tree
    assert post.where(F.col("vec").isNull()).count() == 0
    assert post.count() == embs.count()

    # slim twin under the SAME trained cells: pre-r15 layout
    cents, _meta = load_centroids(f"{out}/centroids.json")
    slim = str(tmp_path / "ivf_slim")
    _os.makedirs(slim)
    _shutil.copy(f"{out}/centroids.json", f"{slim}/centroids.json")
    assign_vectors(base, cents).repartition("cid").write.partitionBy(
        "cid"
    ).parquet(f"{slim}/postings")
    append_ivf_artifact(spark, slim, delta)
    post_slim = spark.read.parquet(f"{slim}/postings")
    assert "vec" not in post_slim.columns  # append preserved the layout
    assert post_slim.count() == embs.count()

    qs = embs.where(F.col("vec_id") < 4)
    a = sorted(
        tuple(r) for r in serve_ivf_artifact(spark, out, qs, embs, k=5).collect()
    )
    b = sorted(
        tuple(r)
        for r in serve_ivf_artifact(spark, slim, qs, embs, k=5).collect()
    )
    assert a == b and a

    fmt = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    src = spark.read.parquet(base_dir)
    carried_plan = (
        serve_ivf_artifact(spark, out, qs, src, k=5)
        ._jdf.queryExecution().explainString(fmt)
    )
    slim_plan = (
        serve_ivf_artifact(spark, slim, qs, src, k=5)
        ._jdf.queryExecution().explainString(fmt)
    )
    assert base_dir not in carried_plan  # no corpus join in the serve plan
    assert base_dir in slim_plan  # the fallback still key-joins src


def test_sq8_artifact_served_equals_scan_and_filtered(spark, tmp_path):
    """X226: the persisted SQ8 codes artifact completes the quantized
    ladder's artifact symmetry (BQ codes X218, IVF postings X222) —
    served top-k bit-equals the scan-form sq8_l2_panel because the
    stored codes ARE the kernel's intermediate under the same
    deterministic stats; and the filtered form (allowed= semi-joins the
    stored codes BEFORE the cut, the X221 pre-cut doctrine) bit-equals
    the scan form over the allowed subset with the FULL-corpus stats —
    a filter never retrains the quantizer."""
    from mimic2ts_spark.operators.pq import (
        SQ8_STATS_FILE,
        _quant_base,
        build_sq8_artifact,
        load_sq8_stats,
        serve_sq8_artifact,
        sq8_l2_panel,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = str(tmp_path / "sq8")
    meta = build_sq8_artifact(spark, out, embs)
    assert meta["n"] == embs.count()

    qs = embs.where(F.col("vec_id") < 4)
    want = sorted(tuple(r) for r in sq8_l2_panel(embs, qs, 5).collect())
    got = sorted(
        tuple(r) for r in serve_sq8_artifact(spark, out, qs, 5).collect()
    )
    assert got == want and got

    import os as _os

    stats = load_sq8_stats(_os.path.join(out, SQ8_STATS_FILE))
    allowed = embs.where(F.col("vec_id") % 3 == 1).select("vec_id")
    sub = embs.join(allowed, "vec_id", "left_semi")
    want_f = sorted(
        tuple(r) for r in sq8_l2_panel(sub, qs, 5, stats=stats).collect()
    )
    got_f = sorted(
        tuple(r)
        for r in serve_sq8_artifact(spark, out, qs, 5, allowed=allowed).collect()
    )
    assert got_f == want_f and got_f
    ok = {r.vec_id for r in allowed.collect()}
    assert all(t[1] in ok for t in got_f)


def test_sq8_append_idempotent_and_stream_ingest(spark, tmp_path):
    """X226 append + streaming ingest: the delta encodes against the
    FROZEN stored stats (artifact hyper-state — the codes' meaning
    never moves under an append), a duplicated-id delta appends one row
    per new id, a replayed delta appends nothing, the audit total is
    meta-incremental, and a 3-microbatch drain (maxFilesPerTrigger=1)
    leaves serving bit-equal to a one-shot encode of the full corpus
    under the SAME stats (the X204 drain contract)."""
    from mimic2ts_spark.operators.pq import (
        SQ8_STATS_FILE,
        append_sq8_artifact,
        build_sq8_artifact,
        load_sq8_stats,
        serve_sq8_artifact,
        sq8_l2_panel,
    )
    from mimic2ts_spark.streaming import run_sq8_ingest_available_now

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = embs.where(F.col("vec_id") % 4 != 0)
    delta = embs.where(F.col("vec_id") % 4 == 0)
    out = str(tmp_path / "sq8_grow")
    build_sq8_artifact(spark, out, base)

    pdf = delta.toPandas()
    stage = tmp_path / "delta"
    stage.mkdir()
    for i in range(3):
        pdf[pdf.index % 3 == i].to_parquet(stage / f"d{i}.parquet", index=False)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    totals = run_sq8_ingest_available_now(spark, out, stream)
    assert totals["batches"] == 3 and totals["rows"] == delta.count()

    # replayed (and internally duplicated) delta: 0 appended, audit
    # total unchanged and derived from the meta, not a rescan
    replay = append_sq8_artifact(spark, out, delta.unionByName(delta))
    assert replay["delta"] == 0 and replay["n"] == embs.count()

    import os as _os

    stats = load_sq8_stats(_os.path.join(out, SQ8_STATS_FILE))
    qs = embs.where(F.col("vec_id") < 4)
    want = sorted(
        tuple(r) for r in sq8_l2_panel(embs, qs, 5, stats=stats).collect()
    )
    got = sorted(
        tuple(r) for r in serve_sq8_artifact(spark, out, qs, 5).collect()
    )
    assert got == want and got


def test_pq_artifact_served_equals_scan_and_filtered(spark, tmp_path):
    """X230: the persisted PQ codes artifact — ADC serving from the
    stored 4-int/vector codes bit-equals the scan-form pq_adc_panel
    (same deterministic codebooks, same integer table kernel), the
    table-kernel panel agrees with the literal-map _adc_expr form
    (pq_adc_topk) on the shared query, and the filtered form (allowed=
    semi-joins stored codes pre-cut) bit-equals the scan form over the
    allowed subset under the FULL-corpus codebooks."""
    from mimic2ts_spark.operators.pq import (
        PQ_BOOKS_FILE,
        build_pq_artifact,
        load_codebooks,
        pq_adc_panel,
        pq_adc_topk,
        serve_pq_artifact,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = str(tmp_path / "pq")
    meta = build_pq_artifact(spark, out, embs)
    assert meta["n"] == embs.count()

    import os as _os

    books = load_codebooks(_os.path.join(out, PQ_BOOKS_FILE))
    qs = embs.where(F.col("vec_id") < 4)
    want = sorted(
        tuple(r)
        for r in pq_adc_panel(embs, qs, 5, codebooks=books).collect()
    )
    got = sorted(
        tuple(r) for r in serve_pq_artifact(spark, out, qs, 5).collect()
    )
    assert got == want and got

    # cross-form agreement: the table kernel == the literal-map ADC
    # expression on the lowest-id query (pq_adc_topk's fixed panel)
    lit = [
        (r.vec_id, r.adc_dist2)
        for r in pq_adc_topk(embs, top_k=5, codebooks=books).collect()
    ]
    q0 = embs.agg(F.min("vec_id")).collect()[0][0]
    krn = [
        (r.neighbor_id, r.adc_dist2)
        for r in serve_pq_artifact(spark, out, embs.where(F.col("vec_id") == q0), 5)
        .orderBy("rank").collect()
    ]
    assert lit == krn and lit

    # filtered: pre-cut on the stored codes, codebooks never retrain
    allowed = embs.where(F.col("vec_id") % 3 == 1).select("vec_id")
    sub = embs.join(allowed, "vec_id", "left_semi")
    want_f = sorted(
        tuple(r)
        for r in pq_adc_panel(sub, qs, 5, codebooks=books).collect()
    )
    got_f = sorted(
        tuple(r)
        for r in serve_pq_artifact(spark, out, qs, 5, allowed=allowed).collect()
    )
    assert got_f == want_f and got_f
    ok = {r.vec_id for r in allowed.collect()}
    assert all(t[1] in ok for t in got_f)


def test_pq_append_idempotent_and_stream_ingest(spark, tmp_path):
    """X230 append + streaming ingest: deltas encode against the FROZEN
    stored codebooks, duplicated-id deltas append one row per new id, a
    replayed delta appends nothing (meta-incremental audit), and a
    3-microbatch drain (maxFilesPerTrigger=1) leaves ADC serving
    bit-equal to a one-shot encode of the full corpus under the SAME
    books (the X204 drain contract)."""
    from mimic2ts_spark.operators.pq import (
        PQ_BOOKS_FILE,
        append_pq_artifact,
        build_pq_artifact,
        load_codebooks,
        pq_adc_panel,
        serve_pq_artifact,
    )
    from mimic2ts_spark.streaming import run_pq_ingest_available_now

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = embs.where(F.col("vec_id") % 4 != 0)
    delta = embs.where(F.col("vec_id") % 4 == 0)
    out = str(tmp_path / "pq_grow")
    build_pq_artifact(spark, out, base)

    pdf = delta.toPandas()
    stage = tmp_path / "delta"
    stage.mkdir()
    for i in range(3):
        pdf[pdf.index % 3 == i].to_parquet(stage / f"d{i}.parquet", index=False)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    totals = run_pq_ingest_available_now(spark, out, stream)
    assert totals["batches"] == 3 and totals["rows"] == delta.count()

    replay = append_pq_artifact(spark, out, delta.unionByName(delta))
    assert replay["delta"] == 0 and replay["n"] == embs.count()

    import os as _os

    books = load_codebooks(_os.path.join(out, PQ_BOOKS_FILE))
    qs = embs.where(F.col("vec_id") < 4)
    want = sorted(
        tuple(r)
        for r in pq_adc_panel(embs, qs, 5, codebooks=books).collect()
    )
    got = sorted(
        tuple(r) for r in serve_pq_artifact(spark, out, qs, 5).collect()
    )
    assert got == want and got


def test_ivfpq_stream_ingest_and_filtered_serve(spark, tmp_path):
    """X231 streaming + filtered serving: a 3-microbatch drain
    (maxFilesPerTrigger=1) through run_ivfpq_ingest_available_now
    leaves artifact serving bit-equal to a one-shot encode of the full
    corpus under the SAME frozen state (the X204 drain contract — codes
    are a pure per-row function of frozen coarse+books), and
    `allowed=` semi-joins the partition-pruned codes BEFORE the cut
    (X221): filtered top-k == the allowed-filtered FULL ranking's
    top-k, never a post-filter of a fixed top-k."""
    import os as _os
    import shutil as _shutil

    from mimic2ts_spark.operators.pq import (
        IVFPQ_META,
        _ivfpq_encode_under,
        _ivfpq_state,
        _quant_base,
        _write_codes_meta,
        build_ivfpq_artifact,
        serve_ivfpq_artifact,
    )
    from mimic2ts_spark.streaming import run_ivfpq_ingest_available_now

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = embs.where(F.col("vec_id") % 4 != 0)
    delta = embs.where(F.col("vec_id") % 4 == 0)
    out = str(tmp_path / "ivfpq_stream")
    build_ivfpq_artifact(spark, out, base)

    pdf = delta.toPandas()
    stage = tmp_path / "delta"
    stage.mkdir()
    for i in range(3):
        pdf[pdf.index % 3 == i].to_parquet(stage / f"d{i}.parquet", index=False)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    totals = run_ivfpq_ingest_available_now(spark, out, stream)
    assert totals["batches"] == 3 and totals["rows"] == delta.count()

    ref = str(tmp_path / "ivfpq_stream_ref")
    _os.makedirs(ref)
    for f in ("centroids.json", "codebooks.json"):
        _shutil.copy(_os.path.join(out, f), _os.path.join(ref, f))
    coarse, books = _ivfpq_state(out)
    (
        _ivfpq_encode_under(_quant_base(embs, "vec_id", "embedding"),
                            coarse, books)
        .write.partitionBy("cid").parquet(_os.path.join(ref, "codes"))
    )
    _write_codes_meta(ref, IVFPQ_META, {"n": embs.count()})
    qs = embs.where(F.col("vec_id") < 4)
    drained = sorted(tuple(r)
                     for r in serve_ivfpq_artifact(spark, out, qs, 5).collect())
    oneshot = sorted(tuple(r)
                     for r in serve_ivfpq_artifact(spark, ref, qs, 5).collect())
    assert drained == oneshot and drained

    # filtered: pre-cut == top-k of the allowed-filtered FULL ranking
    allowed = embs.where(F.col("vec_id") % 3 == 1).select("vec_id")
    ok = {r.vec_id for r in allowed.collect()}
    n = embs.count()
    full = serve_ivfpq_artifact(spark, out, qs, n).collect()
    expect: dict = {}
    for r in sorted(full, key=lambda r: (r.query_id, r.adc_dist2,
                                         r.neighbor_id)):
        if r.neighbor_id in ok and len(expect.setdefault(r.query_id, [])) < 5:
            expect[r.query_id].append(
                (r.query_id, r.neighbor_id, r.cell, r.adc_dist2)
            )
    want = sorted(t for rows in expect.values() for t in rows)
    got = sorted(
        (r.query_id, r.neighbor_id, r.cell, r.adc_dist2)
        for r in serve_ivfpq_artifact(
            spark, out, qs, 5, allowed=allowed
        ).collect()
    )
    assert got == want and got
    assert all(t[1] in ok for t in got)


def test_serve_ivf_artifact_filtered_equals_scan_form(spark, tmp_path):
    """X225 (VERDICT r12 #3): filtered serving on the PERSISTED IVF
    index — serve_ivf_artifact(allowed=…) semi-joins the partition-
    pruned postings BEFORE the candidate join (the X221 pre-cut
    doctrine; the under-returning post-filter form is never executed)
    and bit-equals the scan-form filtered_topk IVF branch on the same
    corpus: the trained cells are corpus-level artifact state shared by
    both paths — a filter never retrains."""
    from mimic2ts_spark.operators.kmeans import save_centroids, train_coarse
    from mimic2ts_spark.operators.similarity import (
        assign_vectors,
        derived_cells,
        filtered_topk,
        serve_ivf_artifact,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = embs.count()
    out = tmp_path / "ivf"
    out.mkdir()
    ck = str(out)
    cents = train_coarse(embs, derived_cells(n), n=n, cache_key=ck)
    save_centroids(cents, str(out / "centroids.json"), meta={"n_base": n})
    assign_vectors(embs, cents).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(str(out / "postings"))

    qs = embs.where(F.col("vec_id") < 4)
    broad = embs.where(F.col("vec_id") % 7 != 0).select("vec_id")
    scan = filtered_topk(embs, qs, broad, k=5, cache_key=ck)
    assert {r[0] for r in scan.select("route").distinct().collect()} == {"ivf"}
    served = serve_ivf_artifact(spark, str(out), qs, embs, k=5, allowed=broad)
    a = sorted(tuple(r) for r in scan.drop("route").collect())
    b = sorted(tuple(r) for r in served.collect())
    assert a == b and a

    # selective filter through the artifact: candidates pre-cut to the
    # allowed ids, so every ranked neighbor is allowed by construction
    sel = embs.where(F.col("vec_id") % 16 == 1).select("vec_id")
    ok = {r.vec_id for r in sel.collect()}
    got = serve_ivf_artifact(
        spark, str(out), qs, embs, k=5, allowed=sel
    ).collect()
    assert got and all(r.neighbor_id in ok for r in got)


def test_ivf_flat_migration_crash_recovery(spark, tmp_path):
    """ADVICE r12: the flat→partitioned postings migration is
    CRASH-SAFE — the live dir renames aside before the partitioned tree
    promotes, so a complete postings tree exists on disk at every
    instant, and entry-time recovery handles each interruption point:
    (a) live dir missing + '._old' present (crash between rename-aside
    and promote) restores the data, dropping a half-written
    '._migrating'; (b) a stale '._old' beside a live dir (crash before
    the final cleanup) is dropped. Also pins the incremental audit
    sidecar (ADVICE r12): the second append derives n_postings from the
    sidecar + delta instead of a full index rescan."""
    import json as _json
    import os as _os

    from mimic2ts_spark.operators.kmeans import save_centroids, train_coarse
    from mimic2ts_spark.operators.similarity import (
        append_ivf_artifact,
        assign_vectors,
        derived_cells,
        serve_ivf_artifact,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = embs.where(F.col("vec_id") % 4 != 0)
    delta = embs.where(F.col("vec_id") % 4 == 0)
    out = tmp_path / "ivf_crash"
    out.mkdir()
    n = base.count()
    cents = train_coarse(embs, derived_cells(n), n=n)
    save_centroids(cents, str(out / "centroids.json"), meta={"n_base": n})
    # pre-r12 FLAT layout, then simulate a crash mid-migration: the
    # aside rename happened, the promote did not, tmp half-written
    assign_vectors(base, cents).write.mode("overwrite").parquet(
        str(out / "postings")
    )
    _os.rename(str(out / "postings"), str(out / "postings._old"))
    (out / "postings._migrating").mkdir()
    audit = append_ivf_artifact(spark, str(out), delta)
    assert audit["n_delta"] == delta.count()
    assert audit["n_postings"] == embs.count()
    assert not (out / "postings._migrating").exists()
    assert any(
        e.startswith("cid=") for e in _os.listdir(out / "postings")
    )
    # incremental audit sidecar recorded the running total
    with open(out / "_postings_meta.json") as f:
        assert _json.load(f)["n_postings"] == embs.count()

    # crash case (b): stale '._old' beside the live dir — dropped, and
    # the replayed delta appends nothing (idempotence) while the audit
    # total comes from sidecar + 0, no full rescan required
    (out / "postings._old").mkdir()
    replay = append_ivf_artifact(spark, str(out), delta)
    assert replay["n_delta"] == 0
    assert replay["n_postings"] == embs.count()
    assert not (out / "postings._old").exists()
    served = serve_ivf_artifact(
        spark, str(out), embs.where(F.col("vec_id") < 4), embs, k=5
    )
    assert served.count() > 0


def test_bq_append_idempotent_on_redelivery(spark, tmp_path):
    """ADVICE r11: append_bq_artifact ENFORCES the NEW-ids contract —
    a replayed delta (the foreachBatch at-least-once redelivery case)
    appends 0 rows, a mixed old/new delta appends only the new ids, and
    serving after the redelivery bit-equals the no-redelivery state (a
    duplicated code row would occupy two of the k Hamming slots)."""
    from mimic2ts_spark.operators.pq import (
        append_bq_artifact,
        build_bq_artifact,
        serve_bq_artifact,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = embs.where(F.col("vec_id") % 3 != 0)
    out = str(tmp_path / "bq")
    build_bq_artifact(spark, out, base)
    qs = embs.where(F.col("vec_id") < 4)
    before = {tuple(r) for r in serve_bq_artifact(spark, out, qs, k=5).collect()}

    # full redelivery of already-stored ids: nothing appends
    replay = append_bq_artifact(spark, out, base)
    assert replay["delta"] == 0 and replay["n"] == base.count()

    # mixed delta — WITH every row duplicated within the batch (r12
    # review: the anti-join only covers STORED ids; within-batch
    # duplicates must also collapse to one code row per id)
    mixed = embs.where((F.col("vec_id") % 3 == 0) | (F.col("vec_id") % 3 == 1))
    grown = append_bq_artifact(spark, out, mixed.unionByName(mixed))
    assert grown["delta"] == embs.where(F.col("vec_id") % 3 == 0).count()
    assert grown["n"] == embs.count()
    codes = spark.read.parquet(f"{out}/codes")
    assert codes.groupBy("vec_id").count().where(F.col("count") > 1).count() == 0

    # served top-k over the base ids is a superset question — redo the
    # no-redelivery build and compare served rows exactly
    clean = str(tmp_path / "bq_clean")
    build_bq_artifact(spark, clean, embs)
    a = {tuple(r) for r in serve_bq_artifact(spark, out, qs, k=5).collect()}
    b = {tuple(r) for r in serve_bq_artifact(spark, clean, qs, k=5).collect()}
    assert a == b and before and a


def test_bq_artifact_filtered_serve_pre_cut(spark, tmp_path):
    """X221 on the ARTIFACT path: serve_bq_artifact(allowed=...) semi-
    joins the stored codes BEFORE the Hamming cut — served rows equal
    the scan-form Hamming panel over the allowed subset exactly (never
    a post-filtered full top-k), on both the Hamming-only and the
    two-stage rescored shapes."""
    from mimic2ts_spark.operators.pq import (
        bq_hamming_panel,
        bq_rescore_panel,
        build_bq_artifact,
        serve_bq_artifact,
    )

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = str(tmp_path / "bq")
    build_bq_artifact(spark, out, embs)
    qs = embs.where(F.col("vec_id") < 4)
    allowed = embs.where(F.col("vec_id") % 5 == 1).select("vec_id")
    sub = embs.join(allowed, "vec_id", "left_semi")

    served = {
        tuple(r)
        for r in serve_bq_artifact(spark, out, qs, k=5, allowed=allowed).collect()
    }
    scan = {tuple(r) for r in bq_hamming_panel(sub, qs, k=5).collect()}
    assert served == scan and served

    served2 = {
        tuple(r)
        for r in serve_bq_artifact(
            spark, out, qs, k=5, src=sub, allowed=allowed
        ).collect()
    }
    scan2 = {tuple(r) for r in bq_rescore_panel(sub, qs, k=5).collect()}
    assert served2 == scan2 and served2


def test_theil_sen_resists_outlier_day(spark, tmp_path):
    """X205: the reason Theil-Sen exists — one spike day on a clean
    count ramp must leave the pairwise-median slope at the true value
    while the X169 OLS slope is dragged away; and the lower-median
    selection must reproduce a python replay exactly."""
    import pandas as pd

    from mimic2ts_spark.harness_ext import TS_SCALE, q_trend_robust

    rows = []
    eid = 0
    for d in range(20):  # y = 5 + 2d events on day d, one spike day
        n = 5 + 2 * d if d != 10 else 500
        for _ in range(n):
            rows.append((eid, pd.Timestamp("2024-01-01") + pd.Timedelta(days=d, minutes=eid % 60), 1, "t", 1.0, ""))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    d = tmp_path / "fx"; d.mkdir()
    pdf.to_parquet(d / "events.parquet", index=False)

    out = {r.event_type: r for r in q_trend_robust(spark, str(d)).collect()}["t"]
    # python replay: same pairs, same (float ratio, num, den) lower median
    daily = pdf.assign(x=(pdf.ts.dt.normalize() - pd.Timestamp("2024-01-01")).dt.days).groupby("x").size()
    pairs = sorted(
        ((daily[x2] - daily[x1], x2 - x1) for x1 in daily.index for x2 in daily.index if x1 < x2),
        key=lambda p: (p[0] / p[1], p[0], p[1]),
    )
    num, den = pairs[(len(pairs) + 1) // 2 - 1]
    assert (out.med_num, out.med_den, out.n_pairs) == (num, den, len(pairs))
    import math
    assert out.slope_scaled == math.floor(TS_SCALE * num / den)
    # robustness: true slope 2 (the spike day shifts the median barely)
    assert abs(out.slope_scaled / TS_SCALE - 2.0) < 0.2


def test_panel_topk_batch_prune_exact_under_ties(spark, embs):
    """r13 map-side combine (pq._batch_topk): every panel top-k kernel
    prunes to the per-batch k smallest under the (dist, neighbor_id)
    total order BEFORE the shuffle. Worst-case regime for any
    truncation: a corpus of byte-identical vector copies (every
    distance ties 5-way, including d=0 copies of each query) torn
    across 8 Arrow batches, with k NOT a multiple of the tie width so
    the k-th slot splits a tie group both per-batch and globally. The
    kernel's output must equal an independent numpy replay of the same
    int64 math (associative — no accumulation-order discipline), row
    order and all."""
    import numpy as np

    from mimic2ts_spark.operators.pq import _quant_base, brute_force_l2_panel

    base = embs.where(F.col("vec_id") < 40)
    dup = base
    for i in range(1, 5):
        dup = dup.union(
            base.withColumn("vec_id", F.col("vec_id") + 10_000 * i)
        )
    dup = dup.repartition(8)
    qs = embs.where(F.col("vec_id") < 4)
    k = 7

    rows = _quant_base(dup, "vec_id", "embedding").collect()
    ids = np.array([int(r["vec_id"]) for r in rows], dtype=np.int64)
    X = np.array([[int(v) for v in r["x"]] for r in rows], dtype=np.int64)
    exp = {}
    for r in _quant_base(qs, "vec_id", "embedding").collect():
        qid = int(r["vec_id"])
        q = np.array([int(v) for v in r["x"]], dtype=np.int64)
        d = ((X - q[None, :]) ** 2).sum(axis=1)
        mask = ids != qid
        order = np.lexsort((ids[mask], d[mask]))
        exp[qid] = [
            (int(ids[mask][j]), int(d[mask][j])) for j in order[:k]
        ]

    got: dict = {}
    for r in (
        brute_force_l2_panel(dup, qs, k=k)
        .orderBy("query_id", "d2", "neighbor_id")
        .collect()
    ):
        got.setdefault(int(r["query_id"]), []).append(
            (int(r["neighbor_id"]), int(r["d2"]))
        )
    assert got == exp
    # the 4 zero-distance duplicate copies of each query lead its list
    for qid, lst in exp.items():
        assert [d for _, d in lst[:4]] == [0, 0, 0, 0]
