"""Round-5 text-analysis additions: BPE-ish pre-tokenizer stats and
corpus top-k n-grams (training-pipeline ops per the task brief; the
reference has no tokenizer — these are engine additions, cited as such
in COVERAGE.md)."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from ts_pymfe_spark.operators import textpipe as TP


FIXTURE = [
    (0, "Hello, world! It's 2026 -- we're  testing   BPE-ish "
        "tokens... don't panic (v2.0)"),
    (1, "it''s a 'quoted' word 'x and trailing '"),
    (2, "the cat sat. the cat sat. the dog ran."),
    (3, ""),
    (4, "   "),
    (5, "one-token"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(FIXTURE, "doc_id int, text string")


def _py_pretok(text: str) -> list[str]:
    """Independent oracle: Python re (leftmost-first backtracking, same
    family as Java regex) over the same public GPT-2-style pattern."""
    return re.findall(TP.BPE_PRETOKEN_RE, text)


def test_bpe_token_stats_matches_python_re(docs):
    got = {r["doc_id"]: r.asDict() for r in TP.bpe_token_stats(docs).collect()}
    for doc_id, text in FIXTURE:
        pre = _py_pretok(text)
        toks = [t for t in pre if not re.match(TP._WS_ONLY_RE, t)]
        contr = [t for t in pre if re.match(TP._CONTRACTION_RE, t)]
        row = got[doc_id]
        assert row["n_pretok"] == len(pre), (doc_id, pre)
        assert row["n_tokens"] == len(toks), (doc_id, toks)
        assert row["n_contractions"] == len(contr), (doc_id, contr)
        if toks:
            assert row["chars_per_token"] == pytest.approx(
                len(text) / len(toks))
        else:
            assert row["chars_per_token"] is None


def test_bpe_contraction_and_space_folding(docs):
    """Hand-checked pre-token stream for the fixture with contractions:
    leading spaces fold into the next token; 's / 're / 't split off."""
    pre = _py_pretok(FIXTURE[0][1])
    assert "'s" in pre and "'re" in pre and "'t" in pre
    assert " world" in pre and " tokens" in pre
    # double/triple spaces: one char rides the next token, rest separate
    assert "  " in pre or "   " in pre


def test_ngram_topk_hand_counts(docs):
    """Doc 2 dominates the bigram counts: 'the cat' x2, 'cat sat.' x2."""
    top = TP.ngram_topk(docs, n=2, k=3).collect()
    as_map = {r["ngram"]: (r["total_count"], r["n_docs"]) for r in top}
    assert as_map["the cat"] == (2, 1)
    assert as_map["cat sat."] == (2, 1)
    # deterministic tie-break: count desc then ngram asc
    ordered = [r["ngram"] for r in top]
    assert ordered == sorted(
        ordered,
        key=lambda g: (-as_map.get(g, (0, 0))[0], g),
    )


def test_ngram_topk_no_expand_node(docs):
    """Scale audit: the two-stage distinct-doc count must not plan an
    Expand node (countDistinct would), and the top-k must be a
    TakeOrdered, not a global sort."""
    plan = TP.ngram_topk(docs, n=2, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ngram_topk_short_docs_excluded(spark):
    df = spark.createDataFrame(
        [(0, "solo"), (1, ""), (2, "a b")], "doc_id int, text string")
    rows = TP.ngram_topk(df, n=2, k=10).collect()
    assert [(r["ngram"], r["total_count"]) for r in rows] == [("a b", 1)]


# ---------------------------------------------------------------------------
# Y4M video codec + frame sampling (round-5 multimodal upgrade: the
# video modality gets a REAL uncompressed container, like WAV/BMP did)
# ---------------------------------------------------------------------------

import numpy as np


def test_y4m_roundtrip_c420():
    from ts_pymfe_spark.operators import multimodal as MM

    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, (4, 6, 8, 3), dtype=np.uint8)
    payload = MM.encode_y4m(frames, fps=(30, 1))
    meta, got = MM.decode_y4m(payload)
    assert meta == {"width": 8, "height": 6, "fps_num": 30, "fps_den": 1,
                    "colorspace": "C420jpeg", "n_frames": 4}
    for f_in, (y, u, v) in zip(frames, got):
        # luma is carried exactly; chroma is 2x2 box-subsampled
        assert np.array_equal(y, f_in[:, :, 0])
        assert u.shape == v.shape == (3, 4)
        expect_u = (
            f_in[0::2, 0::2, 1].astype(int) + f_in[0::2, 1::2, 1]
            + f_in[1::2, 0::2, 1] + f_in[1::2, 1::2, 1] + 2
        ) // 4
        assert np.array_equal(u, expect_u.astype(np.uint8))


def test_y4m_rejects_garbage_and_odd_dims():
    from ts_pymfe_spark.operators import multimodal as MM

    with pytest.raises(ValueError):
        MM.decode_y4m(b"\x00\x01\x02 not a stream")
    with pytest.raises(ValueError):
        MM.encode_y4m(np.zeros((1, 5, 4, 3), dtype=np.uint8))


def test_sample_video_frames_real_decode(spark):
    from ts_pymfe_spark.operators import multimodal as MM

    media = MM.synth_media(spark, 18)
    vids = {r["media_id"]: r for r in media.filter("kind = 'video'").collect()}
    out = MM.sample_video_frames(media, every_n=2).toPandas()
    # only the Y4M rows produce frames; mp4 blobs are contained (0 rows)
    y4m_ids = {m for m, r in vids.items() if r["mime"] == "video/x-yuv4mpeg"}
    assert set(out["media_id"]) == y4m_ids
    for mid in y4m_ids:
        meta, frames = MM.decode_y4m(bytes(vids[mid]["payload"]))
        sub = out[out.media_id == mid].sort_values("frame_idx")
        assert list(sub["frame_idx"]) == list(range(0, meta["n_frames"], 2))
        # per-frame luma mean matches a direct numpy decode
        for idx, y_mean in zip(sub["frame_idx"], sub["y_mean"]):
            assert y_mean == pytest.approx(
                frames[idx][0].astype(float).mean() / 255.0, rel=1e-6)
        # first sampled frame has motion 0; 40ms per frame at 25 fps
        assert sub.iloc[0]["motion"] == 0.0
        assert sub.iloc[0]["frame_ts_ms"] == 0.0
        if len(sub) > 1:
            assert sub.iloc[1]["frame_ts_ms"] == pytest.approx(80.0)
            assert sub.iloc[1]["motion"] > 0.0


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (7th dedup family, round 5)
# ---------------------------------------------------------------------------

def _py_cdc_chunks(text: str, w: int = 16, m: int = 64) -> list[str]:
    """Independent Python re-derivation of the chunking contract."""
    import hashlib

    if not text:
        return []
    cuts = []
    for p in range(1, len(text) - w + 2):
        win = text[p - 1: p - 1 + w]
        h = int(hashlib.md5(win.encode()).hexdigest()[:10], 16)
        if h % m == 0:
            cuts.append(p + w - 2)  # 0-based end index
    ends = sorted(set(cuts + [len(text) - 1]))
    out, start = [], 0
    for e in ends:
        out.append(text[start: e + 1])
        start = e + 1
    return out


def test_cdc_chunks_match_python_rederivation(spark):
    rng = __import__("numpy").random.default_rng(11)
    alphabet = "abcdefgh "
    docs = [
        (i, "".join(alphabet[j] for j in rng.integers(0, 9, 400)))
        for i in range(6)
    ] + [(6, "short"), (7, "")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = TP.cdc_chunks(df).toPandas()
    import hashlib
    for doc_id, text in docs:
        expect = _py_cdc_chunks(text)
        sub = got[got.doc_id == doc_id]
        assert sorted(sub["chunk_hash"]) == sorted(
            hashlib.md5(c.encode()).hexdigest() for c in expect), doc_id
        assert int(sub["chunk_len"].sum()) == len(text)


def test_cdc_dedup_sees_shared_fragment_exact_dedup_misses(spark):
    """A long duplicated fragment embedded in two otherwise-different
    docs: whole-doc hashes differ (exact dedup finds nothing) but CDC
    chunks inside the shared fragment hash identically."""
    rng = __import__("numpy").random.default_rng(13)
    alphabet = "abcdefgh "
    frag = "".join(alphabet[j] for j in rng.integers(0, 9, 600))
    pre_a = "".join(alphabet[j] for j in rng.integers(0, 9, 120))
    pre_b = "".join(alphabet[j] for j in rng.integers(0, 9, 57))
    df = spark.createDataFrame(
        [(0, pre_a + frag), (1, pre_b + frag),
         (2, "".join(alphabet[j] for j in rng.integers(0, 9, 300)))],
        "doc_id int, text string",
    )
    stats = {r["doc_id"]: r for r in TP.cdc_dedup_stats(df).collect()}
    assert stats[0]["n_shared"] > 0 and stats[1]["n_shared"] > 0
    assert stats[2]["n_shared"] == 0
    # and exact dedup indeed sees three distinct docs
    assert TP.exact_dedup(df).count() == 3


def test_cdc_plan_no_expand_no_cartesian(spark):
    df = spark.createDataFrame([(0, "x" * 40)], "doc_id int, text string")
    plan = TP.cdc_dedup_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_cdc_xxhash64_fast_path_partitions_text(spark):
    """The scale-path hash (xxhash64, codegen-intrinsic) must produce a
    valid partition of every doc — chunks concatenate back to the text
    — and still see the shared fragment across docs."""
    rng = np.random.default_rng(17)
    alphabet = "abcdefgh "
    frag = "".join(alphabet[j] for j in rng.integers(0, 9, 600))
    pre = "".join(alphabet[j] for j in rng.integers(0, 9, 120))
    df = spark.createDataFrame(
        [(0, pre + frag), (1, frag), (2, "tiny")],
        "doc_id int, text string",
    )
    chunks = TP.cdc_chunks(df, hash_fn="xxhash64").toPandas()
    lens = chunks.groupby("doc_id")["chunk_len"].sum().to_dict()
    assert lens == {0: 120 + 600, 1: 600, 2: 4}
    stats = {r["doc_id"]: r for r in
             TP.cdc_dedup_stats(df, hash_fn="xxhash64").collect()}
    assert stats[0]["n_shared"] > 0 and stats[1]["n_shared"] > 0
    with pytest.raises(ValueError):
        TP.cdc_chunks(df, hash_fn="sha1")


def test_contamination_check_hand_case(spark):
    corpus = spark.createDataFrame(
        [(0, "a b c d e f g h"),      # grams: abcde bcdef cdefg defgh
         (1, "a b c d e x y z"),      # abcde + 3 clean
         (2, "p q r s t u"),          # 2 grams, clean
         (3, "too short")],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e"), (101, "v w x y z")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in
           TP.contamination_check(corpus, bench, n=5).collect()}
    assert (got[0]["n_grams"], got[0]["n_contaminated"]) == (4, 1)
    assert got[0]["contamination_frac"] == pytest.approx(0.25)
    assert (got[1]["n_grams"], got[1]["n_contaminated"]) == (4, 1)
    assert (got[2]["n_grams"], got[2]["n_contaminated"]) == (2, 0)
    assert (got[3]["n_grams"], got[3]["n_contaminated"]) == (0, 0)
    assert got[3]["contamination_frac"] is None


def test_contamination_broadcasts_benchmark(spark):
    corpus = spark.createDataFrame(
        [(i, "w%d x y z q r s t" % i) for i in range(20)],
        "doc_id int, text string")
    bench = corpus.limit(2)
    plan = (
        TP.contamination_check(corpus, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_pii_scrub_hand_case(spark):
    import hashlib

    df = spark.createDataFrame(
        [(0, "write to alice.smith+x@sub.example.org or bob@ex.io now"),
         (1, "server at 192.168.0.1 and 10.0.0.255, call +1 (555) 123-4567"),
         (2, "clean text with just words"),
         (3, "almost-an-ip 999.999 and not@anemail")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in TP.pii_scrub(df).collect()}
    assert (got[0]["n_emails"], got[0]["n_ips"], got[0]["n_phones"]) == (2, 0, 0)
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_phones"]) == (0, 2, 1)
    assert got[1]["has_pii"] and not got[2]["has_pii"]
    assert (got[3]["n_emails"], got[3]["n_ips"]) == (0, 0)
    # redaction parity: ordered replace reproduced in plain Python re
    import re as _re
    t1 = df.collect()[1]["text"]
    red = _re.sub(TP.PII_PHONE_RE, "<PHONE>",
          _re.sub(TP.PII_IPV4_RE, "<IP>",
          _re.sub(TP.PII_EMAIL_RE, "<EMAIL>", t1)))
    assert got[1]["redacted_md5"] == hashlib.md5(red.encode()).hexdigest()
    assert "<IP>" in red and "<PHONE>" in red


def test_filter_corpus_rule_precedence(spark):
    df = spark.createDataFrame(
        [(0, "a good long english document with many proper words here"),
         (1, "dup text that is long enough to pass quality checks fine"),
         (2, "dup text that is long enough to pass quality checks fine"),
         (3, "shorty"),
         (4, "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6"),            # low alpha
         (5, "long enough text but mail me at a.b@example.com today ok"),
         (6, "short + pii x@y.io")],                          # short wins
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["reason"] for r in TP.filter_corpus(df).collect()}
    assert got == {0: "kept", 1: "kept", 2: "exact_dup", 3: "short",
                   4: "low_alpha", 5: "pii", 6: "short"}
    kept = {r["doc_id"] for r in TP.filter_corpus(df).collect() if r["keep"]}
    assert kept == {0, 1}


def test_repetition_stats_hand_case(spark):
    # doc 0: 4 non-empty lines ("x" twice, "yy", "" skipped, "zzz");
    #   dup_line_frac = (4-3)/4; dup_line_char_frac = surplus "x" char /
    #   (1+1+2+3) = 1/7; top 2-gram of tokens [x, yy, x, zzz] is every
    #   gram once -> tie broken lexicographically: "x yy" (count 1,
    #   4 chars) over "x zzz", "yy x"; text length 11 ("x\nyy\nx\n\nzzz")
    # doc 1: one line, "a b a b a" -> "a b" count 2 beats "b a" count 2
    #   on the tie; top chars = 2*3=6 over 9 chars
    # doc 2: empty-ish doc (only a newline) -> all zeros
    docs = spark.createDataFrame(
        [(0, "x\nyy\nx\n\nzzz"), (1, "a b a b a"), (2, "\n")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in TP.repetition_stats(docs).collect()}
    assert len(got) == 3
    assert got[0]["n_lines"] == 4
    assert got[0]["dup_line_frac"] == pytest.approx(1 / 4)
    assert got[0]["dup_line_char_frac"] == pytest.approx(1 / 7)
    assert got[0]["top2gram_char_frac"] == pytest.approx(4 / 11)
    assert got[1]["n_lines"] == 1
    assert got[1]["dup_line_frac"] == 0.0
    assert got[1]["top2gram_char_frac"] == pytest.approx(6 / 9)
    assert got[2]["n_lines"] == 0
    assert got[2]["dup_line_frac"] == 0.0
    assert got[2]["dup_line_char_frac"] == 0.0
    assert got[2]["top2gram_char_frac"] == 0.0


def test_repetition_stats_prefix_gram_tiebreak(spark):
    # regression for the argmax tie-break: "a b" and "a bc" both occur
    # once; the lexicographically smaller "a b" must win even though it
    # is a prefix of the other (struct min on (-count, gram) handles
    # this; a negated-char-code array encoding would not)
    docs = spark.createDataFrame(
        [(0, "a bc a b")],  # grams: "a bc", "bc a", "a b"
        "doc_id int, text string",
    )
    row = TP.repetition_stats(docs).collect()[0]
    # winner "a b": 1 occurrence x 3 chars over 8 text chars
    assert row["top2gram_char_frac"] == pytest.approx(3 / 8)


def test_repetition_stats_plan_no_expand_no_window(spark):
    """The per-doc argmax must ride the aggregation (min on a struct),
    not a window function, and the two-stage n-gram agg must not plan
    an Expand: the only exchanges are the two (doc,key) groupBys and
    the per-doc joins on already-reduced rows."""
    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "x\ny")], "doc_id int, text string"
    )
    plan = TP.repetition_stats(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Expand" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# dedup_clusters: distributed connected components over LSH candidates
# ---------------------------------------------------------------------------

def test_connected_components_hand_graph(spark):
    """Two chains and an isolated edge: comp = min node id, computed by
    hand.  {1-2-3-4}, {10-11}, {20-21-22} (triangle-ish with a chord)."""
    from ts_pymfe_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    got = {r["node"]: r["comp"]
           for r in connected_components(edges, "src", "dst").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    """A 64-node path is the worst case for plain propagation (O(d)
    rounds); pointer jumping must still close it within max_iter and
    label every node with the chain head."""
    from ts_pymfe_spark.operators.graph import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = connected_components(edges, "src", "dst", max_iter=12).collect()
    assert len(got) == n + 1
    assert all(r["comp"] == 0 for r in got)


def test_connected_components_self_loops_dropped(spark):
    from ts_pymfe_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(5, 5), (7, 8)], "src long, dst long"
    )
    got = {r["node"]: r["comp"]
           for r in connected_components(edges, "src", "dst").collect()}
    # node 5 only self-loops -> absent (caller joins back for singletons)
    assert got == {7: 7, 8: 7}


def test_dedup_clusters_keep_and_singletons(spark):
    """End-to-end on a tiny corpus: two exact near-dup pairs that chain
    into one cluster via a shared middle doc, plus an unrelated doc.
    Every input doc appears exactly once; keep marks min-id per
    cluster; singletons keep themselves."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (100, base),
            (101, base),  # exact dup of 100
            (102, base + " extra"),  # near-dup of both
            (500, "completely different content with no shared shingles at all zebra"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in TP.dedup_clusters(docs, num_hashes=16, bands=8).collect()}
    assert set(got) == {100, 101, 102, 500}
    # 100/101 are identical -> identical signatures -> same cluster
    assert got[100] == (100, True)
    assert got[101] == (100, False)
    assert got[500] == (500, True)
    # survivors: exactly one keep=True per distinct cluster_id
    clusters = {}
    for doc, (cid, keep) in got.items():
        clusters.setdefault(cid, []).append(keep)
    for cid, keeps in clusters.items():
        assert sum(keeps) == 1


# ---------------------------------------------------------------------------
# deterministic stratified sampling + mixture rates
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, "lang%d" % (i % 3), 100 + (i % 7) * 10)
            for i in range(300)]
    return spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long"
    ).cache()


def test_sample_corpus_partition_invariant(spark, corpus):
    """The sample is a pure function of doc_id: repartitioning must not
    change the selected set (Spark's own df.sample is partition-seeded
    and fails this)."""
    rates = spark.createDataFrame(
        [("lang0", 0.4), ("lang1", 0.7)], "lang string, rate double"
    )
    a = {r["doc_id"] for r in TP.sample_corpus(corpus, rates).collect()}
    b = {r["doc_id"]
         for r in TP.sample_corpus(corpus.repartition(17), rates).collect()}
    assert a == b and len(a) > 0
    # lang2 absent from the rate table -> dropped entirely
    assert not any(i % 3 == 2 for i in a)


def test_sample_corpus_rates_nest(spark, corpus):
    """u < rate sampling is nested: raising a stratum's rate only adds
    docs — the property that lets a pipeline grow a sample without
    resampling everything."""
    lo = spark.createDataFrame([("lang0", 0.3)], "lang string, rate double")
    hi = spark.createDataFrame([("lang0", 0.8)], "lang string, rate double")
    a = {r["doc_id"] for r in TP.sample_corpus(corpus, lo).collect()}
    b = {r["doc_id"] for r in TP.sample_corpus(corpus, hi).collect()}
    assert a <= b and len(a) < len(b)


def test_sample_corpus_plan_narrow(spark, corpus):
    """Zero shuffles: the rate table rides a broadcast join, the filter
    is a narrow map — at 100 TB this operator never exchanges the
    corpus."""
    rates = spark.createDataFrame(
        [("lang0", 0.5)], "lang string, rate double"
    )
    plan = TP.sample_corpus(corpus, rates)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    import re
    assert not re.search(r"Exchange (hash|range)partitioning", plan)


def test_mixture_rates_hand_case(spark):
    """Budget 1000 chars at weights {a: .75, b: .25} over avail
    {a: 500, b: 1000}: a -> min(1, 750/500) = 1.0, b -> 250/1000 = .25."""
    docs = spark.createDataFrame(
        [(0, "a", 200), (1, "a", 300), (2, "b", 1000), (3, "c", 50)],
        "doc_id long, source string, n_chars long",
    )
    got = {r["source"]: r for r in TP.mixture_rates(
        docs, {"a": 0.75, "b": 0.25}, 1000).collect()}
    assert got["a"]["avail"] == 500 and got["a"]["rate"] == 1.0
    assert got["b"]["target"] == 250.0 and got["b"]["rate"] == 0.25
    assert got["c"]["rate"] == 0.0  # unweighted stratum


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------

def test_pack_sequences_hand_case(spark):
    """One shard, seq_len=5, docs of 3/4/2 tokens in id order: offsets
    0-2, 3-6, 7-8 -> chunks (0,0), (0,1) crossing, (1,1)."""
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f g"), (2, "h i"), (3, "   ")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in TP.pack_sequences(
        docs, seq_len=5, shards=1).collect()}
    assert 3 not in got  # empty doc contributes nothing
    assert (got[0]["start_tok"], got[0]["first_chunk"],
            got[0]["last_chunk"], got[0]["crosses_boundary"]) == (0, 0, 0, False)
    assert (got[1]["start_tok"], got[1]["first_chunk"],
            got[1]["last_chunk"], got[1]["crosses_boundary"]) == (3, 0, 1, True)
    assert (got[2]["start_tok"], got[2]["first_chunk"],
            got[2]["last_chunk"], got[2]["crosses_boundary"]) == (7, 1, 1, False)


def test_pack_sequences_partition_invariant(spark):
    """The layout is a pure function of (doc_id, text): the same rows
    repartitioned arbitrarily produce byte-identical layouts — a
    cluster resizing mid-pipeline cannot move a chunk boundary."""
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (1 + i % 9))) for i in range(200)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, TP.pack_sequences(docs, 64, 4).collect()))
    b = sorted(map(tuple,
                   TP.pack_sequences(docs.repartition(23), 64, 4).collect()))
    assert a == b


def test_packing_stats_conservation(spark):
    """Per-shard chunk accounting: n_chunks * seq_len >= n_tokens with
    waste < one chunk, and total docs across shards equals the
    non-empty input docs."""
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (1 + i % 9))) for i in range(200)],
        "doc_id long, text string",
    )
    rows = TP.packing_stats(docs, 64, 4).collect()
    assert sum(r["n_docs"] for r in rows) == 200
    for r in rows:
        assert 0 <= r["n_chunks"] * 64 - r["n_tokens"] < 64
        assert 0.0 <= r["waste_frac"] < 1.0


# ---------------------------------------------------------------------------
# k-means topic assignment + cluster-balanced retention
# ---------------------------------------------------------------------------

def test_kmeans_assign_hand_case(spark):
    """2-D toy: centroids at (0,0) and (10,0); points land on the
    nearest one, equidistant point tie-breaks to the lower id."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [9.0, 1.0]), (2, [5.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[0.0, 0.0], [10.0, 0.0]]
    got = {r["vec_id"]: r["cluster"]
           for r in TP.kmeans_assign(emb, cents).collect()}
    assert got == {0: 0, 1: 1, 2: 0}


def test_cluster_cap_properties(spark):
    """Exactly min(cap, cluster size) rows kept per cluster; retention
    is partition-invariant (pure function of vec_id)."""
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) + (10.0 if i % 2 else 0.0),
                 rng.uniform(-1, 1)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[0.0, 0.0], [10.0, 0.0]]
    out = TP.cluster_cap(emb, cents, cap=20).collect()
    by_cluster = {}
    for r0 in out:
        by_cluster.setdefault(r0["cluster"], []).append(r0)
    for cid, members in by_cluster.items():
        kept = [m for m in members if m["kept"]]
        assert len(kept) == min(20, len(members))
    a = sorted((r0["vec_id"], r0["kept"]) for r0 in out)
    b = sorted(
        (r0["vec_id"], r0["kept"])
        for r0 in TP.cluster_cap(emb.repartition(13), cents, cap=20).collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, value double"
    )


def test_asof_join_hand_case(spark):
    """Latest right at-or-before each left ts; equal-ts right rows ARE
    eligible and tie-break to the highest event_id; no eligible right
    row -> nulls."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    from ts_pymfe_spark.operators.asof import asof_join

    left = _mk_events(spark, [
        (100, t(5), 1, 1.0),   # after r10, r11
        (101, t(2), 1, 2.0),   # exactly at r11's ts -> matches r11
        (102, t(1), 1, 3.0),   # before everything except r10
        (103, t(9), 2, 4.0),   # user 2 has no right rows -> nulls
    ])
    right = _mk_events(spark, [
        (10, t(0), 1, 10.0),
        (11, t(2), 1, 11.0),
        (12, t(2), 1, 12.0),   # same ts as 11 -> higher id wins
        (13, t(7), 1, 13.0),   # in the future of all left rows
    ])
    got = {r0["event_id"]: r0 for r0 in asof_join(left, right).collect()}
    assert got[100]["r_event_id"] == 12 and got[100]["r_value"] == 12.0
    assert got[101]["r_event_id"] == 12  # equal-ts eligible
    assert got[102]["r_event_id"] == 10
    assert got[103]["r_event_id"] is None and got[103]["r_value"] is None


def test_asof_join_tolerance(spark):
    """tolerance_s nulls out matches older than the bound."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    from ts_pymfe_spark.operators.asof import asof_join

    left = _mk_events(spark, [(100, t(30), 1, 1.0), (101, t(3), 1, 2.0)])
    right = _mk_events(spark, [(10, t(0), 1, 10.0)])
    got = {r0["event_id"]: r0
           for r0 in asof_join(left, right, tolerance_s=5.0).collect()}
    assert got[100]["r_event_id"] is None  # 30 s back > 5 s tolerance
    assert got[101]["r_event_id"] == 10    # 3 s back, within


def test_asof_join_plan_single_exchange(spark):
    """The union-merge form costs exactly one exchange (the window's
    key partition) — the scale property that makes it usable where a
    range join would be O(n_l x n_r) per key."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    from ts_pymfe_spark.operators.asof import asof_join

    left = _mk_events(spark, [(100, t(5), 1, 1.0)])
    right = _mk_events(spark, [(10, t(0), 1, 10.0)])
    plan = asof_join(left, right)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_window_join_hand_case(spark):
    """Trailing 10 s window: boundary at exactly ts-10 included, right
    at exactly ts included, other left rows never counted."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    from ts_pymfe_spark.operators.asof import window_join

    left = _mk_events(spark, [
        (100, t(20), 1, 99.0), (101, t(11), 1, 99.0), (102, t(5), 2, 99.0),
    ])
    right = _mk_events(spark, [
        (10, t(10), 1, 1.0),   # exactly 20-10 -> in both frames
        (11, t(15), 1, 2.0),
        (12, t(20), 1, 4.0),   # exactly at left ts -> included
        (13, t(30), 1, 8.0),   # future -> never
    ])
    got = {r0["event_id"]: r0
           for r0 in window_join(left, right, window_s=10.0).collect()}
    assert (got[100]["w_n"], got[100]["w_sum"],
            got[100]["w_min"], got[100]["w_max"]) == (3, 7.0, 1.0, 4.0)
    assert got[100]["w_avg"] == pytest.approx(7.0 / 3)
    assert (got[101]["w_n"], got[101]["w_sum"]) == (1, 1.0)  # only t=10 in [1,11]
    assert got[102]["w_n"] == 0 and got[102]["w_sum"] is None


def test_window_join_plan_single_exchange(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    from ts_pymfe_spark.operators.asof import window_join

    left = _mk_events(spark, [(100, t(5), 1, 1.0)])
    right = _mk_events(spark, [(10, t(0), 1, 10.0)])
    plan = window_join(left, right)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "Join" not in plan


# ---------------------------------------------------------------------------
# counter rate (PromQL increase/rate semantics)
# ---------------------------------------------------------------------------

def test_counter_increase_hand_case(spark):
    """First sample -> null increase, not a reset; forward step ->
    delta; backward step -> reset, increase = the new value."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    from ts_pymfe_spark.operators.counters import counter_increase

    df = spark.createDataFrame(
        [(1, t(0), 100.0), (1, t(1), 150.0), (1, t(2), 30.0),
         (1, t(3), 35.0), (2, t(0), 7.0)],
        "user_id long, ts timestamp_ntz, value double",
    )
    got = {(r["user_id"], r["ts"].second): (r["increase"], r["is_reset"])
           for r in counter_increase(df).collect()}
    assert got[(1, 0)] == (None, False)       # first sample
    assert got[(1, 1)] == (50.0, False)       # monotone step
    assert got[(1, 2)] == (30.0, True)        # reset: new value counts
    assert got[(1, 3)] == (5.0, False)
    assert got[(2, 0)] == (None, False)       # per-key independence


def test_counter_rate_bucket_rollup(spark):
    """Bucketed rollup sums reset-adjusted increases; an
    all-first-samples bucket reports 0 resets and null sum."""
    import datetime as dt

    t = lambda m, s: dt.datetime(2024, 1, 1, 0, m, s)
    from ts_pymfe_spark.operators.counters import counter_rate

    df = spark.createDataFrame(
        [(1, t(0, 0), 10.0), (1, t(0, 30), 25.0), (1, t(1, 10), 5.0),
         (2, t(0, 5), 3.0)],
        "user_id long, ts timestamp_ntz, value double",
    )
    out = {(r["user_id"], r["bucket_start"].minute): r
           for r in counter_rate(df, bucket_s=60).collect()}
    r10 = out[(1, 0)]
    assert (r10["n_samples"], r10["n_resets"]) == (2, 0)
    assert r10["increase_sum"] == 15.0 and r10["rate"] == 15.0 / 60
    r11 = out[(1, 1)]
    assert (r11["n_samples"], r11["n_resets"]) == (1, 1)
    assert r11["increase_sum"] == 5.0        # reset -> the new value
    r20 = out[(2, 0)]
    assert r20["increase_sum"] is None and r20["n_resets"] == 0


def test_counter_rate_plan_single_exchange(spark):
    """The lag window's key partitioning serves the (key, bucket)
    aggregation too (subset-of-group-keys rule) -> ONE exchange."""
    import datetime as dt

    from ts_pymfe_spark.operators.counters import counter_rate

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)],
        "user_id long, ts timestamp_ntz, value double",
    )
    plan = counter_rate(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# HLL distinct sketch
# ---------------------------------------------------------------------------

def test_hll_estimate_within_published_error(spark):
    """p=10 -> published RSE 3.25%; 5000 true distinct must estimate
    within 4 sigma (deterministic — the hash is md5, not seeded)."""
    from ts_pymfe_spark.operators.sketches import (hll_distinct,
                                                   hll_error_bound)

    df = spark.range(5000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    est = hll_distinct(df, ["g"], "v").first()["est_distinct"]
    assert abs(est - 5000) / 5000 < 4 * hll_error_bound(10)


def test_hll_small_range_linear_counting(spark):
    """Tiny cardinalities ride the linear-counting branch and land
    very close (first-order error ~ n^2/2m)."""
    from ts_pymfe_spark.operators.sketches import hll_distinct

    df = spark.range(40).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    row = hll_distinct(df, ["g"], "v").first()
    assert abs(row["est_distinct"] - 40) <= 3
    assert row["registers_used"] <= 40


def test_hll_merge_equals_union_sketch(spark):
    """Mergeability: sketch(A) max-merged with sketch(B) is EXACTLY
    sketch(A union B) — the property that makes daily sketches a
    storable rollup artifact."""
    from ts_pymfe_spark.operators.sketches import (hll_estimate,
                                                   hll_merge, hll_sketch)

    a = spark.range(0, 3000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    b = spark.range(2000, 6000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    merged = hll_merge(hll_sketch(a, ["g"], "v"), hll_sketch(b, ["g"], "v"))
    direct = hll_sketch(a.unionByName(b), ["g"], "v")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))
    e1 = hll_estimate(merged, ["g"]).first()["est_distinct"]
    e2 = hll_estimate(direct, ["g"]).first()["est_distinct"]
    assert e1 == e2


def test_hll_partition_invariant_and_duplicate_proof(spark):
    """The estimate is a pure function of the distinct SET: duplicates
    and physical partitioning cannot move it by even an ulp."""
    from ts_pymfe_spark.operators.sketches import hll_distinct

    base = spark.range(1000).select(
        F.lit("g").alias("g"), (F.col("id") % 500).cast("string").alias("v"))
    e1 = hll_distinct(base, ["g"], "v").first()["est_distinct"]
    e2 = hll_distinct(base.repartition(17), ["g"], "v") \
        .first()["est_distinct"]
    dedup = spark.range(500).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    e3 = hll_distinct(dedup, ["g"], "v").first()["est_distinct"]
    assert e1 == e2 == e3


def test_hll_shuffle_is_register_bounded(spark):
    """Plan shape: the raw relation feeds a partial max BEFORE the
    exchange — the shuffle carries (key, register, rho) partials, at
    most groups x 1024 rows per task, never raw rows."""
    from ts_pymfe_spark.operators.sketches import hll_sketch

    df = spark.range(10000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    plan = hll_sketch(df, ["g"], "v")._jdf.queryExecution() \
        .executedPlan().toString()
    first_agg = plan.index("HashAggregate")
    first_ex = plan.index("Exchange")
    assert first_agg > 0 and "partial_max" not in plan[:first_agg]
    # partial aggregate appears below (after, in tree print order) the
    # exchange: the exchange input is aggregated
    assert "max(rho" in plan


# ---------------------------------------------------------------------------
# funnel + cohort retention
# ---------------------------------------------------------------------------

def test_funnel_hand_case(spark):
    """Greedy-earliest chain, 10 s window anchored at the first step-1
    event; out-of-window step 2 never counts; equal-ts events are
    eligible; depth 0 when step 1 absent."""
    import datetime as dt

    from ts_pymfe_spark.operators.funnel import funnel

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    ev = spark.createDataFrame(
        [  # user 1: complete funnel inside window
            (1, 1, t(0), "view"), (2, 1, t(3), "click"),
            (3, 1, t(9), "purchase"),
            # user 2: click lands after t1+10 -> depth 1
            (4, 2, t(0), "view"), (5, 2, t(20), "click"),
            # user 3: purchase BEFORE click -> depth 2 only
            (6, 3, t(0), "view"), (7, 3, t(2), "purchase"),
            (8, 3, t(5), "click"),
            # user 4: no view at all -> depth 0
            (9, 4, t(0), "click"), (10, 4, t(1), "purchase"),
            # user 5: click simultaneous with view -> eligible
            (11, 5, t(0), "view"), (12, 5, t(0), "click"),
        ],
        "event_id long, user_id long, ts timestamp_ntz, event_type string",
    )
    steps = [F.col("event_type") == s
             for s in ("view", "click", "purchase")]
    got = {r0["user_id"]: r0
           for r0 in funnel(ev, steps, window_s=10.0,
                            tiebreak_col="event_id").collect()}
    assert got[1]["depth"] == 3 and got[1]["t3"] == t(9)
    assert got[2]["depth"] == 1 and got[2]["t2"] is None
    assert got[3]["depth"] == 2  # purchase-before-click can't chain
    assert got[4]["depth"] == 0 and got[4]["t1"] is None
    assert got[5]["depth"] == 2 and got[5]["t2"] == t(0)


def test_funnel_single_exchange(spark):
    """All running-min windows and the final agg share the key
    partitioning -> exactly one exchange, no UNBOUNDED FOLLOWING."""
    import datetime as dt

    from ts_pymfe_spark.operators.funnel import funnel

    ev = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), "view")],
        "event_id long, user_id long, ts timestamp_ntz, event_type string",
    )
    steps = [F.col("event_type") == s for s in ("view", "click")]
    plan = funnel(ev, steps, tiebreak_col="event_id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Following" not in plan


def test_cohort_retention_hand_case(spark):
    """Cohort = first activity day; same-day repeats dedup; offset 0
    row equals cohort size."""
    import datetime as dt

    from ts_pymfe_spark.operators.funnel import cohort_retention

    d = lambda day, h=0: dt.datetime(2024, 1, day, h)
    ev = spark.createDataFrame(
        [(1, d(1)), (1, d(1, 5)), (1, d(3)),   # cohort 1, offsets {0, 2}
         (2, d(1)), (2, d(2)),                 # cohort 1, offsets {0, 1}
         (3, d(2)), (3, d(4))],                # cohort 2, offsets {0, 2}
        "user_id long, ts timestamp_ntz",
    )
    got = {(r0["cohort_day"].day, r0["offset_days"]): r0["n_active"]
           for r0 in cohort_retention(ev).collect()}
    assert got == {(1, 0): 2, (1, 1): 1, (1, 2): 1, (2, 0): 1, (2, 2): 1}


# ---------------------------------------------------------------------------
# bucketized interval join
# ---------------------------------------------------------------------------

def test_interval_join_hand_case(spark):
    """Closed [start, end] containment; a point inside two overlapping
    intervals yields two pairs; cross-bucket intervals still match
    exactly once per true pair."""
    import datetime as dt

    from ts_pymfe_spark.operators.intervals import interval_join

    t = lambda m, s=0: dt.datetime(2024, 1, 1, 0, m, s)
    pts = spark.createDataFrame(
        [(1, 1, t(5)), (2, 1, t(10)), (3, 1, t(30)), (4, 2, t(5))],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    ivs = spark.createDataFrame(
        [  # covers buckets 0..2 at bucket_s=300 (5 min)
            (100, 1, t(0), t(10)),       # contains pts 1, 2 (end closed)
            (101, 1, t(4), t(6)),        # contains pt 1 again
            (102, 2, t(50), t(55)),      # user 2, no points inside
        ],
        "iv_id long, user_id long, start timestamp_ntz, end timestamp_ntz",
    )
    got = sorted((r0["event_id"], r0["iv_iv_id"])
                 for r0 in interval_join(pts, ivs, bucket_s=300).collect())
    assert got == [(1, 100), (1, 101), (2, 100)]


def test_interval_join_exactly_once_wide_interval(spark):
    """An interval spanning many buckets joins each contained point
    exactly once (the point's own bucket copy)."""
    import datetime as dt

    from ts_pymfe_spark.operators.intervals import interval_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    pts = spark.createDataFrame(
        [(i, 1, t(i)) for i in range(0, 50, 7)],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    ivs = spark.createDataFrame(
        [(9, 1, t(0), t(59))],
        "iv_id long, user_id long, start timestamp_ntz, end timestamp_ntz",
    )
    rows = interval_join(pts, ivs, bucket_s=60).collect()
    assert sorted(r0["event_id"] for r0 in rows) == list(range(0, 50, 7))


def test_interval_join_no_nested_loop(spark):
    """The bucketed form must plan as an equi-join: no
    BroadcastNestedLoopJoin, no CartesianProduct."""
    import datetime as dt

    from ts_pymfe_spark.operators.intervals import interval_join

    t = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(1, 1, t)], "event_id long, user_id long, ts timestamp_ntz")
    ivs = spark.createDataFrame(
        [(9, 1, t, t)],
        "iv_id long, user_id long, start timestamp_ntz, end timestamp_ntz")
    plan = interval_join(pts, ivs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# histogram sketch quantiles + heavy hitters
# ---------------------------------------------------------------------------

def test_histogram_quantile_hand_case(spark):
    """10 values 0.5..9.5 on a [0,10) unit grid: each bin holds one
    value, r = q*10 walks the cum counts; p50 -> bin 4 upper edge 5.0,
    exact-rank boundary semantics."""
    from ts_pymfe_spark.operators.histogram import histogram_quantiles

    df = spark.createDataFrame(
        [("g", i + 0.5) for i in range(10)], "g string, v double")
    row = histogram_quantiles(df, ["g"], "v", qs=[0.5, 0.9],
                              lo=0.0, hi=10.0, bins=10).first()
    assert row["n"] == 10
    # r=5 -> first cum>=5 is bin 4 (cum 5): est = 4 + (5-4)/1 = 5.0
    assert row["p50"] == 5.0
    assert row["p90"] == 9.0


def test_histogram_quantile_error_bounded_by_bin_width(spark):
    """Estimates sit within one bin width of the exact quantile."""
    import random

    from ts_pymfe_spark.operators.histogram import histogram_quantiles

    rng = random.Random(3)
    vals = [rng.uniform(0, 40) for _ in range(2000)]
    df = spark.createDataFrame([("g", v) for v in vals],
                               "g string, v double")
    row = histogram_quantiles(df, ["g"], "v", qs=[0.5, 0.95],
                              lo=0.0, hi=50.0, bins=50).first()
    s = sorted(vals)
    for q, col in ((0.5, "p50"), (0.95, "p95")):
        exact = s[int(q * len(s)) - 1]
        assert abs(row[col] - exact) <= 1.0 + 1e-9  # one bin width


def test_histogram_merge_equals_direct(spark):
    """sum-merge of two sketches == sketch of the union (exact integer
    counts), so daily sketches roll up losslessly."""
    from ts_pymfe_spark.operators.histogram import (histogram_merge,
                                                    histogram_sketch)

    a = spark.createDataFrame([("g", float(i % 13)) for i in range(100)],
                              "g string, v double")
    b = spark.createDataFrame([("g", float(i % 7)) for i in range(50)],
                              "g string, v double")
    m = histogram_merge(histogram_sketch(a, ["g"], "v", 0.0, 20.0, 20),
                        histogram_sketch(b, ["g"], "v", 0.0, 20.0, 20))
    d = histogram_sketch(a.unionByName(b), ["g"], "v", 0.0, 20.0, 20)
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, d.collect()))


def test_histogram_clamps_out_of_range(spark):
    """Values beyond the grid collapse onto the edge bins (open-ended
    bucket convention) instead of erroring or disappearing."""
    from ts_pymfe_spark.operators.histogram import histogram_sketch

    df = spark.createDataFrame(
        [("g", -5.0), ("g", 0.0), ("g", 99.0)], "g string, v double")
    got = {r["bin"]: r["cnt"]
           for r in histogram_sketch(df, ["g"], "v", 0.0, 10.0, 10)
           .collect()}
    assert got == {0: 2, 9: 1}


def test_heavy_hitters_hand_case(spark):
    """Exact top-k with (count desc, value asc) tiebreak; nulls
    excluded; rank dense from 1."""
    from ts_pymfe_spark.operators.sketches import heavy_hitters

    rows = ([("a", 1)] * 3 + [("a", 2)] * 3 + [("a", 3)]
            + [("a", None)] * 5 + [("b", 9)])
    df = spark.createDataFrame(rows, "g string, v int")
    got = [(r0["g"], r0["v"], r0["cnt"], r0["rank"])
           for r0 in heavy_hitters(df, ["g"], "v", k=2)
           .orderBy("g", "rank").collect()]
    assert got == [("a", 1, 3, 1), ("a", 2, 3, 2), ("b", 9, 1, 1)]


def test_heavy_hitters_counts_before_shuffle(spark):
    """The first exchange must carry (keys, value, partial count), not
    raw rows — partial_count below the exchange in the plan."""
    from ts_pymfe_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([("a", 1)], "g string, v int")
    plan = heavy_hitters(df, ["g"], "v")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "partial_count" in plan or "partial count" in plan.lower()


# ---------------------------------------------------------------------------
# transition matrix + rolling anomalies
# ---------------------------------------------------------------------------

def test_transition_matrix_hand_case(spark):
    """a->b->a->b and c for user 1; independent user 2 stream; probs
    normalize per from_state row."""
    import datetime as dt

    from ts_pymfe_spark.operators.funnel import transition_matrix

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    ev = spark.createDataFrame(
        [(1, 1, t(0), "a"), (2, 1, t(1), "b"), (3, 1, t(2), "a"),
         (4, 1, t(3), "b"), (5, 1, t(4), "c"),
         (6, 2, t(0), "a"), (7, 2, t(1), "a")],
        "event_id long, user_id long, ts timestamp_ntz, event_type string",
    )
    got = {(r0["from_state"], r0["to_state"]):
           (r0["n_transitions"], r0["prob"])
           for r0 in transition_matrix(ev, tiebreak_col="event_id")
           .collect()}
    assert got[("a", "b")] == (2, pytest.approx(2 / 3))
    assert got[("a", "a")] == (1, pytest.approx(1 / 3))
    assert got[("b", "a")] == (1, 0.5)
    assert got[("b", "c")] == (1, 0.5)
    assert ("c", "a") not in got  # stream ends at c


def test_rolling_anomalies_hand_case(spark):
    """Constant baseline then a spike: the spike scores, the baseline
    rows before min_n do not, and the spike never masks itself."""
    from ts_pymfe_spark.operators.local_stats import rolling_anomalies

    rows = [("c", i, float(i % 2)) for i in range(12)] + [("c", 12, 50.0)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    out = {r0["turn_idx"]: r0
           for r0 in rolling_anomalies(df, k=10, z=3.0, min_n=10)
           .collect()}
    assert out[5]["zscore"] is None          # only 5 baseline points
    assert out[12]["is_anomaly"] is True     # spike vs 0/1 alternation
    assert out[12]["zscore"] > 3
    assert out[11]["is_anomaly"] is False    # in-pattern point


def test_rolling_anomalies_single_exchange(spark):
    from ts_pymfe_spark.operators.local_stats import rolling_anomalies

    df = spark.createDataFrame([("c", 0, 1.0)],
                               "conv_id string, turn_idx int, value double")
    plan = rolling_anomalies(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Following" not in plan


# ---------------------------------------------------------------------------
# weighted sampling + rolling HLL
# ---------------------------------------------------------------------------

def test_weighted_sample_matches_brute_force(spark):
    """The bucket pre-prune returns EXACTLY the global top-k of the
    E-S keys (superset-preserving prune), at any parallelism."""
    import hashlib
    import math

    rows = [(i, "en" if i % 3 else "de", 10 + (i * 7) % 90)
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")

    def es_key(doc_id, w):
        h = int(hashlib.md5(f"wsamp:{doc_id}".encode())
                .hexdigest()[:15], 16)
        u = (h + 1.0) / 16 ** 15
        return -math.log(u) / w

    expect = {}
    for doc_id, lang, w in rows:
        expect.setdefault(lang, []).append((es_key(doc_id, w), doc_id))
    for lang in expect:
        expect[lang] = [d for _, d in sorted(expect[lang])[:10]]

    for parts in (1, 7):
        got = {}
        out = TP.weighted_sample(df.repartition(parts), k=10,
                                 candidate_buckets=4)
        for r0 in out.orderBy("lang", "rank").collect():
            got.setdefault(r0["lang"], []).append(r0["doc_id"])
        assert got == expect


def test_weighted_sample_zero_weight_excluded(spark):
    df = spark.createDataFrame(
        [(1, "en", 0), (2, "en", -3), (3, "en", 5)],
        "doc_id long, lang string, n_chars long")
    out = TP.weighted_sample(df, k=10).collect()
    assert [r0["doc_id"] for r0 in out] == [3]


def test_weighted_sample_is_weight_biased(spark):
    """Sanity: a doc with 100x the weight of the rest lands in a
    small sample far more often than uniform would allow — checked
    across salts (independent deterministic draws)."""
    rows = [(i, "en", 10000 if i == 0 else 100) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    hits = sum(
        any(r0["doc_id"] == 0
            for r0 in TP.weighted_sample(df, k=5, salt=str(s)).collect())
        for s in range(12)
    )
    # P(in top-5) ~ 1-(1-w0/W)^5 ~ 0.93 each; uniform would be ~5%.
    assert hits >= 8


def test_hll_rolling_equals_window_union(spark):
    """Each day's trailing-7 estimate equals hll_distinct on the raw
    union of those days — fan-out + max-merge is exactly the window
    union of sketches."""
    import datetime as dt

    from ts_pymfe_spark.operators.sketches import (hll_distinct,
                                                   hll_rolling, hll_sketch)

    rows = []
    for d in range(10):
        for u in range(d * 20, d * 20 + 50):  # overlapping user ranges
            rows.append((dt.date(2024, 1, 1 + d), u % 130))
    df = spark.createDataFrame(rows, "day date, user_id long")
    sk = hll_sketch(df, ["day"], "user_id")
    got = {str(r0["day"]): r0["est_distinct"]
           for r0 in hll_rolling(sk, "day", window_days=7).collect()}
    for d in (0, 4, 9):
        day = dt.date(2024, 1, 1 + d)
        lo = dt.date(2024, 1, max(1, 1 + d - 6))
        window = df.filter((F.col("day") >= lo) & (F.col("day") <= day)) \
            .withColumn("g", F.lit("g"))
        want = hll_distinct(window, ["g"], "user_id").first()["est_distinct"]
        assert got[str(day)] == want, (d, got[str(day)], want)


# ---------------------------------------------------------------------------
# M4 + LTTB downsampling
# ---------------------------------------------------------------------------

def _naive_lttb(x, y, n_out):
    """Independent point-at-a-time re-derivation of Steinarsson 2013
    (explicit triangle-area formula, no vectorization)."""
    n = len(x)
    if n_out >= n:
        return list(range(n))
    edges = np.linspace(1, n - 1, n_out - 1).astype(int)
    keep = [0]
    a = 0
    for i in range(n_out - 2):
        s, e = edges[i], edges[i + 1]
        ns, ne = edges[i + 1], (edges[i + 2] if i + 2 < len(edges) else n)
        cx = sum(x[ns:ne]) / (ne - ns)
        cy = sum(y[ns:ne]) / (ne - ns)
        best, best_area = s, -1.0
        for j in range(s, e):
            area = abs((x[a] - cx) * (y[j] - y[a])
                       - (x[a] - x[j]) * (cy - y[a])) / 2.0
            if area > best_area:
                best, best_area = j, area
        keep.append(best)
        a = best
    keep.append(n - 1)
    return keep


def test_lttb_select_matches_naive():
    from ts_pymfe_spark.operators.downsample import lttb_select

    rng = np.random.default_rng(5)
    for n, n_out in ((100, 10), (257, 31), (50, 3), (64, 64), (10, 20)):
        x = np.arange(n, dtype=float)
        y = rng.normal(size=n).cumsum()
        got = list(lttb_select(x, y, n_out))
        assert got == _naive_lttb(list(x), list(y), n_out), (n, n_out)


def test_lttb_keeps_endpoints_and_spikes():
    from ts_pymfe_spark.operators.downsample import lttb_select

    y = np.zeros(200)
    y[77] = 100.0  # an isolated spike must survive downsampling
    keep = lttb_select(np.arange(200.0), y, 20)
    assert keep[0] == 0 and keep[-1] == 199
    assert 77 in keep


def test_lttb_downsample_grouped(spark):
    """The Spark grouped kernel returns exactly the per-series numpy
    selection, for every series."""
    from ts_pymfe_spark.operators.downsample import (lttb_downsample,
                                                     lttb_select)

    rng = np.random.default_rng(9)
    rows = []
    series = {}
    for c in ("a", "b", "c"):
        y = rng.normal(size=120).cumsum()
        series[c] = y
        rows += [(c, i, float(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx long, value double")
    out = lttb_downsample(df, n_out=12)
    got = {}
    for r0 in out.collect():
        got.setdefault(r0["conv_id"], []).append(r0["turn_idx"])
    for c, y in series.items():
        keep = lttb_select(np.arange(120.0), y, 12)
        assert sorted(got[c]) == sorted(keep.tolist())


def test_lttb_downsample_duplicate_order_is_partition_invariant(spark):
    """Rows sharing an order value reach LTTB sorted by value, so the
    same rows, read in reverse order and partitioned differently, pick
    the same points."""
    from ts_pymfe_spark.operators.downsample import lttb_downsample

    rng = np.random.default_rng(4)
    rows = []
    for c in ("a", "b", "c"):
        idx = np.sort(rng.integers(0, 60, 120))    # ~2 rows per turn_idx
        rows += [(c, int(i), float(v))
                 for i, v in zip(idx, rng.normal(size=120).cumsum())]
    schema = "conv_id string, turn_idx long, value double"
    picks = [
        sorted(tuple(r) for r in lttb_downsample(df, n_out=12).collect())
        for df in (spark.createDataFrame(rows, schema).repartition(1),
                   spark.createDataFrame(rows[::-1], schema)
                   .repartition(7, "turn_idx"))
    ]
    assert len(picks[0]) == 3 * 12
    assert picks[0] == picks[1]


def test_m4_downsample_hand_case(spark):
    """8 points, 2 buckets: min/max/first/last per bucket with
    deterministic tie positions (value tie -> min keeps the smaller
    index, max the larger)."""
    from ts_pymfe_spark.operators.downsample import m4_downsample

    vals = [5.0, 1.0, 1.0, 9.0, 2.0, 2.0, 7.0, 3.0]
    df = spark.createDataFrame(
        [("c", i, v) for i, v in enumerate(vals)],
        "conv_id string, turn_idx long, value double")
    got = {r0["bucket"]: r0
           for r0 in m4_downsample(df, n_buckets=2).collect()}
    b0, b1 = got[0], got[1]
    # span 0..7 -> bucket 0 holds idx 0..3, bucket 1 idx 4..7
    assert (b0["min_v"], b0["min_i"]) == (1.0, 1)   # tie -> idx 1 not 2
    assert (b0["max_v"], b0["max_i"]) == (9.0, 3)
    assert (b0["first_v"], b0["last_v"]) == (5.0, 9.0)
    assert (b1["min_v"], b1["min_i"]) == (2.0, 4)
    assert (b1["max_v"], b1["max_i"]) == (7.0, 6)
    assert (b1["first_i"], b1["last_i"]) == (4, 7)


def test_m4_single_exchange(spark):
    """The span window and the bucket groupBy share the conv_id
    partitioning -> one exchange."""
    from ts_pymfe_spark.operators.downsample import m4_downsample

    df = spark.createDataFrame([("c", 0, 1.0)],
                               "conv_id string, turn_idx long, value double")
    plan = m4_downsample(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# time-weighted average + burst detection
# ---------------------------------------------------------------------------

def test_time_weighted_avg_hand_case(spark):
    """LOCF weighting: value 10 held 30 s then 20 held 30 s inside a
    60 s bucket -> twa 15; the bucket-final sample's weight clips at
    the bucket edge, never leaking into the next bucket."""
    import datetime as dt

    from ts_pymfe_spark.operators.counters import time_weighted_avg

    t = lambda m, s: dt.datetime(2024, 1, 1, 0, m, s)
    df = spark.createDataFrame(
        [(1, t(0, 0), 10.0), (1, t(0, 30), 20.0),  # bucket 0
         (1, t(1, 15), 99.0)],                     # bucket 1 (45 s left)
        "user_id long, ts timestamp_ntz, value double",
    )
    got = {r0["bucket_start"].minute: r0
           for r0 in time_weighted_avg(df, bucket_s=60).collect()}
    b0 = got[0]
    assert b0["covered_s"] == 60.0 and b0["twa"] == 15.0
    b1 = got[1]
    assert b1["covered_s"] == 45.0 and b1["twa"] == 99.0


def test_time_weighted_avg_irregular_vs_plain_mean(spark):
    """A value held 99% of the time dominates the TWA even when most
    SAMPLES carry the other value (the exact failure of plain avg)."""
    import datetime as dt

    from ts_pymfe_spark.operators.counters import time_weighted_avg

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [(1, t(0), 100.0)] + [(1, t(50 + i), 0.0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, value double")
    row = time_weighted_avg(df, bucket_s=60).first()
    assert row["twa"] == pytest.approx(100 * 50 / 60, abs=1e-6)


def test_burst_stats_hand_case(spark):
    """Trailing 10 s frame: a 3-event cluster peaks at 3; the peak
    instant is the EARLIEST row attaining it; range (not rows) frame
    so simultaneous events count together."""
    import datetime as dt

    from ts_pymfe_spark.operators.counters import burst_stats

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(1, t(0)), (1, t(8)), (1, t(10)),   # 0,8,10 within 10 s of 10
         (1, t(40)), (1, t(45)), (1, t(50)),  # second cluster, also 3
         (2, t(0))],
        "user_id long, ts timestamp_ntz",
    )
    got = {r0["user_id"]: r0
           for r0 in burst_stats(df, window_s=10).collect()}
    assert got[1]["peak_burst"] == 3
    assert got[1]["peak_at"] == t(10)   # earliest of the two peaks
    assert got[2]["peak_burst"] == 1 and got[2]["n_events"] == 1


def test_twa_and_burst_single_exchange(spark):
    import datetime as dt

    from ts_pymfe_spark.operators.counters import (burst_stats,
                                                   time_weighted_avg)

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)],
        "user_id long, ts timestamp_ntz, value double")
    for op in (lambda d: time_weighted_avg(d),
               lambda d: burst_stats(d.drop("value"))):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# empty-input robustness: every round-5 operator must return an empty
# frame (not crash) on zero rows — the behavior a partition-pruned
# 100 TB read hits constantly
# ---------------------------------------------------------------------------

def test_round5_operators_survive_empty_input(spark):
    import datetime as dt

    from ts_pymfe_spark.operators.counters import (burst_stats,
                                                   counter_rate,
                                                   time_weighted_avg)
    from ts_pymfe_spark.operators.downsample import (lttb_downsample,
                                                     m4_downsample)
    from ts_pymfe_spark.operators.funnel import (cohort_retention, funnel,
                                                 transition_matrix)
    from ts_pymfe_spark.operators.histogram import histogram_quantiles
    from ts_pymfe_spark.operators.intervals import interval_join
    from ts_pymfe_spark.operators.sketches import (heavy_hitters,
                                                   hll_distinct)

    ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp_ntz, "
            "event_type string, value double")
    ser = spark.createDataFrame(
        [], "conv_id string, turn_idx long, value double")
    iv = spark.createDataFrame(
        [], "iv_id long, user_id long, start timestamp_ntz, "
            "end timestamp_ntz")
    checks = [
        counter_rate(ev),
        time_weighted_avg(ev),
        burst_stats(ev.drop("value")),
        funnel(ev, [F.col("event_type") == "view"]),
        cohort_retention(ev),
        transition_matrix(ev),
        hll_distinct(ev.withColumn("day", F.to_date("ts")),
                     ["day"], "user_id"),
        heavy_hitters(ev, ["event_type"], "user_id"),
        histogram_quantiles(ev, ["user_id"], "value", [0.5], 0.0, 10.0),
        interval_join(ev, iv),
        m4_downsample(ser),
        lttb_downsample(ser),
        TP.weighted_sample(
            spark.createDataFrame(
                [], "doc_id long, lang string, n_chars long"), k=5),
    ]
    for df in checks:
        assert df.count() == 0


# ---------------------------------------------------------------------------
# heartbeat gaps + table profiler
# ---------------------------------------------------------------------------

def test_heartbeat_gaps_hand_case(spark):
    """Gaps of 100 s and 200 s over a 60 s threshold: both counted,
    max 200, downtime 300; sub-threshold gaps ignored; single-event
    keys report clean zeros."""
    import datetime as dt

    from ts_pymfe_spark.operators.counters import heartbeat_gaps

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, 0) \
        + dt.timedelta(seconds=s)
    df = spark.createDataFrame(
        [(1, t(0)), (1, t(30)), (1, t(130)), (1, t(330)),
         (2, t(0))],
        "user_id long, ts timestamp_ntz",
    )
    got = {r0["user_id"]: r0
           for r0 in heartbeat_gaps(df, gap_s=60.0).collect()}
    assert got[1]["n_gaps"] == 2
    assert got[1]["max_gap_s"] == 200.0
    assert got[1]["downtime_s"] == 300.0
    assert (got[2]["n_gaps"], got[2]["max_gap_s"],
            got[2]["downtime_s"]) == (0, 0.0, 0.0)


def test_profile_table_counts_and_distincts(spark):
    from ts_pymfe_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0), (3, "b", 5.0), (4, None, 7.0)],
        "id long, cat string, v double")
    got = {r0["column"]: r0 for r0 in profile_table(df).collect()}
    assert all(got[c]["n_rows"] == 4 for c in ("id", "cat", "v"))
    assert got["cat"]["n_null"] == 1 and got["v"]["n_null"] == 1
    # tiny cardinalities ride linear counting -> near-exact
    assert abs(got["id"]["est_distinct"] - 4) < 0.1
    assert abs(got["cat"]["est_distinct"] - 2) < 0.1
    assert abs(got["v"]["est_distinct"] - 2) < 0.1


def test_profile_table_no_expand_node(spark):
    """The profiler must not plan an Expand (the count-distinct-per-
    column shape it exists to avoid); the unpivot is a Generate."""
    from ts_pymfe_spark.operators.profile import profile_table

    df = spark.createDataFrame([(1, "a")], "id long, cat string")
    plan = profile_table(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Expand" not in plan


def test_hll_overlap_tracks_true_intersection(spark):
    """Known 40% day-over-day overlap: the inclusion-exclusion
    estimate lands within the compounded sketch error (3 estimates
    at ~3.25% RSE each)."""
    import datetime as dt

    from ts_pymfe_spark.operators.sketches import hll_overlap, hll_sketch

    rows = []
    # day 1: users 0..999; day 2: users 600..1599 (overlap 400)
    for u in range(1000):
        rows.append((dt.date(2024, 1, 1), u))
    for u in range(600, 1600):
        rows.append((dt.date(2024, 1, 2), u))
    df = spark.createDataFrame(rows, "day date, user_id long")
    out = hll_overlap(hll_sketch(df, ["day"], "user_id")).collect()
    assert len(out) == 1
    row = out[0]
    assert str(row["day"]) == "2024-01-02"
    assert abs(row["est_overlap"] - 400) / 400 < 0.35
    assert abs(row["est_union"] - 1600) / 1600 < 0.15


def test_hll_overlap_requires_literal_predecessor(spark):
    """A day whose literal previous day is absent emits no row."""
    import datetime as dt

    from ts_pymfe_spark.operators.sketches import hll_overlap, hll_sketch

    rows = [(dt.date(2024, 1, 1), 1), (dt.date(2024, 1, 3), 2)]
    df = spark.createDataFrame(rows, "day date, user_id long")
    assert hll_overlap(hll_sketch(df, ["day"], "user_id")).count() == 0


def test_analytics_report_job_end_to_end(spark, tmp_path):
    """The CLI analytics job (jobs/analytics_report.py) produces every
    report table, and the sketch-derived tables agree with direct
    operator calls (derivation from the STORED sketch, not raw)."""
    import sys
    from unittest import mock

    from ts_pymfe_spark.operators.sketches import hll_distinct

    ev = spark.createDataFrame(
        [(i, __import__("datetime").datetime(2024, 1, 1 + i % 3, i % 24),
          i % 7, ["view", "click", "purchase"][i % 3], float(i))
         for i in range(200)],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double")
    src = str(tmp_path / "ev")
    out = str(tmp_path / "report")
    ev.write.mode("overwrite").parquet(src)

    sys.path.insert(0, "jobs")
    import analytics_report

    argv = ["analytics_report.py", "--input", src, "--output", out]
    with mock.patch.object(sys, "argv", argv):
        analytics_report.main()

    got = {r["day"]: r["est_distinct"]
           for r in spark.read.parquet(f"{out}/distinct_daily").collect()}
    want = {r["day"]: r["est_distinct"]
            for r in hll_distinct(
                ev.select(F.to_date("ts").alias("day"), "user_id"),
                ["day"], "user_id").collect()}
    assert got == want
    assert spark.read.parquet(f"{out}/funnel").count() == 7
    assert spark.read.parquet(f"{out}/profile").count() == 3


def test_state_durations_hand_case(spark):
    """LOCF: state holds until the next event; final event holds 0."""
    import datetime as dt

    from ts_pymfe_spark.operators.counters import state_durations

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(1, t(0), "idle"), (1, t(10), "busy"), (1, t(15), "idle"),
         (1, t(45), "busy"), (2, t(0), "idle")],
        "user_id long, ts timestamp_ntz, event_type string")
    got = {(r0["user_id"], r0["state"]): r0["total_s"]
           for r0 in state_durations(df).collect()}
    assert got[(1, "idle")] == 10.0 + 30.0
    assert got[(1, "busy")] == 5.0 + 0.0   # final event holds nothing
    assert got[(2, "idle")] == 0.0


def test_counter_deriv_recovers_known_slope(spark):
    """Exact linear data y = 3 + 0.25 * x within one bucket recovers
    slope 0.25; a single-sample bucket yields null."""
    import datetime as dt

    from ts_pymfe_spark.operators.counters import counter_deriv

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(1, base + dt.timedelta(seconds=s), 3.0 + 0.25 * s)
            for s in (0, 7, 19, 33, 50)]
    rows.append((2, base, 9.0))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, value double")
    got = {r0["user_id"]: r0
           for r0 in counter_deriv(df, bucket_s=60).collect()}
    assert got[1]["slope"] == pytest.approx(0.25, abs=1e-9)
    assert got[2]["slope"] is None and got[2]["n_samples"] == 1


def test_seasonal_profile_full_matrix(spark):
    """Dense input covers the full 7x24 matrix; averages exact."""
    import datetime as dt

    from ts_pymfe_spark.operators.counters import seasonal_profile

    rows = [(dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), float(h % 5))
            for h in range(7 * 24 * 2)]  # two full weeks
    df = spark.createDataFrame(rows, "ts timestamp_ntz, value double")
    out = seasonal_profile(df).collect()
    assert len(out) == 168
    assert all(r["n_events"] == 2 for r in out)


def test_rolling_corr_gap_detects_coupling(spark):
    """Values proportional to the preceding gap -> corr ~ +1; values
    independent of gaps stay far from 1; early rows unscored."""
    import datetime as dt

    from ts_pymfe_spark.operators.counters import rolling_corr_gap

    t = dt.datetime(2024, 1, 1)
    gaps = [3, 9, 5, 21, 8, 2, 30, 11, 4, 17, 6, 13, 25, 7, 10,
            19, 3, 28, 12, 5, 16, 9, 22, 4, 14]
    rows, cur = [], 0
    for i, g in enumerate(gaps):
        cur += g
        rows.append((1, t + dt.timedelta(seconds=cur), 2.0 * g + 1.0))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, value double")
    out = sorted(rolling_corr_gap(df, k=20, min_n=10).collect(),
                 key=lambda r0: r0["ts"])
    assert out[5]["corr_gap"] is None           # < min_n frame points
    assert out[-1]["corr_gap"] == pytest.approx(1.0, abs=1e-6)


def test_every_query_has_matching_oracle():
    """Contract invariant: queries() and oracle_sql() cover exactly
    the same keys — no silently rows-only query can appear."""
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(q) == set(o)
    assert len(q) >= 117
    assert all(isinstance(sql, str) and sql.strip() for sql in o.values())


# ---------------------------------------------------------------------------
# sketch algebra properties (hypothesis over a pure-Python mirror of
# the md5 register pipeline, validated against Spark in one case)
# ---------------------------------------------------------------------------

def _py_hll_registers(values, p=10, salt="hll"):
    """Independent Python replica of hll_sketch's register table."""
    import hashlib

    regs = {}
    bits = 32 - p
    mask = (1 << bits) - 1
    for v in values:
        h = int(hashlib.md5(f"{salt}|{v}".encode()).hexdigest()[:8], 16)
        reg = h >> bits
        suf = h & mask
        rho = bits + 1 if suf == 0 else bits - suf.bit_length() + 1
        regs[reg] = max(regs.get(reg, 0), rho)
    return regs


def test_py_mirror_matches_spark_sketch(spark):
    from ts_pymfe_spark.operators.sketches import hll_sketch

    vals = [str(i * 37) for i in range(500)]
    df = spark.createDataFrame([("g", v) for v in vals],
                               "g string, v string")
    got = {r0["register"]: r0["max_rho"]
           for r0 in hll_sketch(df, ["g"], "v").collect()}
    assert got == _py_hll_registers(vals)


def test_hll_merge_algebra_properties():
    """Union-homomorphism, commutativity, idempotence of the register
    algebra over random value sets (hypothesis)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def merge(a, b):
        out = dict(a)
        for k, v in b.items():
            out[k] = max(out.get(k, 0), v)
        return out

    sets = st.lists(st.integers(0, 10_000), max_size=300)

    @settings(max_examples=200, deadline=None)
    @given(sets, sets)
    def check(xs, ys):
        sa, sb = _py_hll_registers(xs), _py_hll_registers(ys)
        assert merge(sa, sb) == _py_hll_registers(xs + ys)   # union-hom
        assert merge(sa, sb) == merge(sb, sa)                # commute
        assert merge(sa, sa) == sa                           # idempotent

    check()
