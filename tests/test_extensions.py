"""Unit tests for the X-series extension operators on tiny literal
frames — properties the sf-scale oracle can't isolate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eventstream_notify_spark.functions.vector import cosine, dot, l2_norm
from eventstream_notify_spark.operators.alerts import apply_rules
from eventstream_notify_spark.operators.multimodal import (
    decode_media,
    fake_decode_batches,
    with_media_column,
)


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0], [0.0, 1.0])], "a array<float>, b array<float>, c array<float>"
    )
    row = df.select(
        F.round(cosine("a", "b"), 6).alias("same"),
        F.round(cosine("a", "c"), 6).alias("orth"),
        dot("a", "c").alias("d"),
        l2_norm("a").alias("n"),
    ).first()
    assert row.same == 1.0 and row.orth == 0.0 and row.d == 0.0 and row.n == 1.0


def test_minhash_identical_docs_collide(spark, monkeypatch):
    from eventstream_notify_spark.operators import text as tx

    d = docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # exact copy
            (3, "zeta eta theta iota kappa"),
        ],
    )
    monkeypatch.setattr(tx, "table", lambda spark, sf_dir, name: d)
    out = tx.dedup_minhash(spark, "ignored").collect()
    got = {(r.doc_a, r.n_candidates) for r in out}
    # identical docs collide in every band -> exactly one candidate edge 1->2
    assert got == {(1, 1)}


def test_simhash_copy_equal_disjoint_differs(spark, monkeypatch):
    from eventstream_notify_spark.operators import text as tx

    d = docs(
        spark,
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "completely different words here entirely"),
        ],
    )
    monkeypatch.setattr(tx, "table", lambda spark, sf_dir, name: d)
    hashes = {r.doc_id: r.simhash for r in tx.dedup_simhash(spark, "x").collect()}
    assert hashes[1] == hashes[2]
    assert hashes[1] != hashes[3]


def test_alert_rules_unit(spark):
    import datetime as dt

    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1), 1, "error", 200.0, '{"k": 5}'),
            (2, dt.datetime(2024, 1, 1), 1, "view", 100.0, '{"k": 5}'),
            (3, dt.datetime(2024, 1, 1), 1, "purchase", 5.0, '{"k": 5}'),
            (4, dt.datetime(2024, 1, 1), 1, "click", 10.0, '{"k": 95}'),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    fired = {(r.rule_id, r.event_id) for r in apply_rules(events).collect()}
    # event 1: error>150 (r1) and value>190 (r2); event 3: purchase<10 (r3);
    # event 4: k>90 (r4); event 2: nothing
    assert fired == {(1, 1), (2, 1), (3, 3), (4, 4)}


def test_decode_media_rejects_unsupported_format():
    with pytest.raises(ValueError, match="no codec"):
        decode_media(b"bytes", "image/png")


def test_ppm_roundtrip_exact():
    import numpy as np

    from eventstream_notify_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    rng = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(7, 5, 3)
    assert np.array_equal(decode_ppm(encode_ppm(rng)), rng)
    # comment + extra-whitespace header grammar
    with_comment = b"P6\n# a comment\n 5  7\n255\n" + rng.tobytes()
    assert np.array_equal(decode_ppm(with_comment), rng)
    with pytest.raises(ValueError):
        decode_ppm(b"P5\nnot p6")


def test_bmp_roundtrip_exact_including_row_padding():
    import numpy as np

    from eventstream_notify_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    # width 5 -> 15-byte rows -> 1 pad byte; bottom-up + BGR covered
    px = (np.arange(5 * 4 * 3, dtype=np.int64) * 17 % 256).astype(
        np.uint8
    ).reshape(4, 5, 3)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)
    with pytest.raises(ValueError):
        decode_bmp(b"XX junk")


def test_mm_decode_kernel_matches_python_reference():
    import numpy as np
    import pandas as pd

    from eventstream_notify_spark.operators.multimodal import (
        ppm_bmp_roundtrip_batches,
    )

    ids = [0, 1, 2, 3, 11, 38]
    out = pd.concat(
        list(ppm_bmp_roundtrip_batches(iter([pd.DataFrame({"doc_id": ids})])))
    )
    for _, r in out.iterrows():
        did = int(r.doc_id)
        w, h = 4 + did % 5, 3 + did % 4
        want = int(((did * 7 + np.arange(3 * w * h)) % 256).sum())
        assert (r.width, r.height, r.n_px) == (w, h, w * h)
        assert int(r.px_sum) == want


def test_fake_decode_plumbing(spark):
    d = docs(spark, [(1, "abcd" * 16)])  # 64 bytes
    out = with_media_column(d.withColumn("text", F.col("text"))).mapInPandas(
        fake_decode_batches,
        "doc_id long, n_bytes long, width int, height int, n_frames int",
    ).first()
    assert out.n_bytes == 64
    assert out.width == 32 + 64 % 64
    assert out.height == 32 + (64 // 64) % 64
    assert out.n_frames == 1 + 64 % 3


def test_media_metadata_struct(spark):
    d = docs(spark, [(1, "hello")])
    row = with_media_column(d).first()
    assert bytes(row.payload) == b"hello"
    assert row.media_meta.fmt == "fake/raw"
    assert row.media_meta.n_bytes == 5


def test_mm_feature_extract_matches_python_reference(spark, sf_dir):
    """The Arrow byte-featurizer must agree exactly with a pure-Python
    reference over the same blobs — the integer-moment mean/std with
    defined final op order (m = s/n; v = ssq/n - m*m), which is what
    the DuckDB oracle replays."""
    import math

    import numpy as np

    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.operators.multimodal import (
        mm_feature_extract,
    )

    got = {
        r.doc_id: (r.n_bytes, r.byte_mean, r.byte_std, r.distinct_bytes)
        for r in mm_feature_extract(spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    for r in docs[:100]:
        b = np.frombuffer(r.text.encode("utf-8"), dtype=np.uint8)
        s = int(b.sum(dtype=np.int64))
        ssq = int((b.astype(np.int64) ** 2).sum())
        nd = float(b.size)
        mean = s / nd
        want = (
            int(b.size),
            mean,
            math.sqrt(max(ssq / nd - mean * mean, 0.0)),
            int(np.unique(b).size),
        )
        assert got[r.doc_id] == want, (r.doc_id, got[r.doc_id], want)


def test_mm_frame_sample_row_expansion(spark, sf_dir):
    """mapInPandas emits a VARIABLE number of rows per blob: every doc
    has >=1 sampled frame (frame 0), and 3-frame blobs contribute two
    (stride 2)."""
    from eventstream_notify_spark.operators.multimodal import mm_frame_sample

    rows = mm_frame_sample(spark, sf_dir).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert all(0 in v for v in per_doc.values())
    assert all(set(v) <= {0, 2} for v in per_doc.values())


def test_batch_and_stream_sessionization_agree(spark, sf_dir):
    """The batch gap-sessionizer and the streaming session_window
    (30 min gap both) must carve identical sessions: same count, and
    identical (user, start, n_events) triples."""
    from eventstream_notify_spark.registry import queries

    batch = queries()["zx_sessionize_events"](spark, sf_dir)
    stream = queries()["stream_session"](spark, sf_dir)
    b = {
        (r.user_id, r.start_us, r.n_events)
        for r in batch.collect()
    }
    s = {
        (r.user_id, r.session_start_us, r.n_events)
        for r in stream.collect()
    }
    assert b == s


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing is concat-then-chunk: per lang, offsets are contiguous
    (each doc starts where the previous ended), every seq_offset is
    inside the 512-token budget, and sequence ids never decrease."""
    from eventstream_notify_spark.registry import queries

    rows = queries()["zx_llm_pack_sequences"](spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert by_lang
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.doc_id)
        expect_off = 0
        prev_seq = 0
        for r in rs:
            start = r.seq_id * 512 + r.seq_offset
            assert start == expect_off, (lang, r.doc_id)
            assert 0 <= r.seq_offset < 512
            assert r.seq_id >= prev_seq
            prev_seq = r.seq_id
            expect_off += r.n_tok


def test_funnel_ordering_invariants(spark, sf_dir):
    """Funnel steps are strictly ordered where present, and `stage`
    equals 1 + the number of completed downstream steps; a purchase
    without a click is impossible by construction."""
    from eventstream_notify_spark.registry import queries

    rows = queries()["zx_funnel_conversion"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.click_us is not None:
            assert r.click_us > r.view_us
        if r.purchase_us is not None:
            assert r.click_us is not None
            assert r.purchase_us > r.click_us
        want = 1 + (r.click_us is not None) + (r.purchase_us is not None)
        assert r.stage == want


def test_scd2_intervals_partition_history(spark, sf_dir):
    """SCD2 output must be a PARTITION of each user's history:
    intervals non-overlapping and contiguous (valid_to == next
    valid_from), exactly one open (is_current) row per user, and
    adjacent states always differ (consecutive repeats collapsed)."""
    from eventstream_notify_spark.registry import queries

    rows = queries()["zx_scd2_user_state"](spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.valid_from_us)
        assert sum(r.is_current for r in rs) == 1
        assert rs[-1].is_current == 1
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to_us == b.valid_from_us, uid
            assert a.state != b.state, uid
        assert all(r.valid_from_us < r.valid_to_us for r in rs)


def test_retention_cohort_zero_offset_is_cohort_size(spark, sf_dir):
    """Every cohort is 100% 'retained' at offset 0 (the cohort week
    itself), and offsets are never negative."""
    from eventstream_notify_spark.registry import queries
    from pyspark.sql import functions as F

    from eventstream_notify_spark.catalog import table

    rows = queries()["zx_retention_cohorts"](spark, sf_dir).collect()
    assert rows and all(r.week_offset >= 0 for r in rows)
    week_us = 7 * 86_400 * 1_000_000
    cohort_sizes = {
        r.cohort_week: r.n
        for r in (
            table(spark, sf_dir, "events")
            .select(
                "user_id",
                F.expr(f"unix_micros(ts) div {week_us}").alias("week"),
            )
            .groupBy("user_id")
            .agg(F.min("week").alias("cohort_week"))
            .groupBy("cohort_week")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    zero = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    assert zero == cohort_sizes


# ------------------------------------------------ round-3 curation ops


def test_repetition_filter_flags_repeats(spark, sf_dir):
    from eventstream_notify_spark.registry import lookup

    out = {
        r.doc_id: r
        for r in lookup("llm_repetition_filter").fn(spark, sf_dir).collect()
    }
    assert out  # non-empty
    for r in out.values():
        assert 0.0 <= r.dup_bigram_frac <= 1.0
        assert 0.0 < r.top_token_frac <= 1.0
        expect = int(r.dup_bigram_frac <= 0.05 and r.top_token_frac <= 0.15)
        assert r.keep == expect


def test_repetition_filter_degenerate_doc(spark):
    """A doc that is one token repeated must be dropped with frac 1.0."""
    from eventstream_notify_spark.operators.text import llm_repetition_filter
    from unittest import mock

    d = spark.createDataFrame(
        [(1, "spam spam spam spam"),
         (2, "a1 b2 c3 d4 e5 f6 g7 h8 i9 j10")],
        "doc_id long, text string",
    )
    with mock.patch(
        "eventstream_notify_spark.operators.text.table", return_value=d
    ):
        rows = {
            r.doc_id: r for r in llm_repetition_filter(None, "").collect()
        }
    # 3 bigrams, 1 distinct -> dup fraction 2/3
    assert rows[1].dup_bigram_frac == pytest.approx(2 / 3) and rows[1].keep == 0
    assert rows[1].top_token_frac == 1.0
    # 10 distinct tokens: top-token mass 0.1 <= 0.15, no dup bigrams
    assert rows[2].n_dup_bigrams == 0 and rows[2].keep == 1


def test_bm25_ranks_term_dense_docs_first(spark, sf_dir):
    from eventstream_notify_spark.registry import lookup

    rows = lookup("text_bm25").fn(spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r.n_terms_hit <= 3 for r in rows)
    assert all(r.bm25 > 0 for r in rows)


def test_data_quality_audit_rules(spark, sf_dir):
    from eventstream_notify_spark.registry import lookup

    rows = {
        r.rule: r for r in lookup("data_quality_audit").fn(spark, sf_dir).collect()
    }
    assert set(rows) == {
        "orderkey_unique",
        "custkey_fk_customer",
        "status_in_domain",
        "totalprice_positive",
        "orderdate_fresh_lt_2000",
    }
    # clean synthetic data: integrity rules hold; freshness rule fails live
    assert rows["orderkey_unique"].passed == 1
    assert rows["custkey_fk_customer"].passed == 1
    assert rows["orderdate_fresh_lt_2000"].n_violations > 0
    assert rows["orderdate_fresh_lt_2000"].passed == 0
    n = rows["orderkey_unique"].n_checked
    assert all(r.n_checked == n for r in rows.values())


def test_ewma_matches_python_reference(spark, sf_dir):
    """Exact-integer EWMA == the closed-form weighted mean in python."""
    from eventstream_notify_spark.registry import lookup

    got = (
        lookup("ts_ewma")
        .fn(spark, sf_dir)
        .filter(F.col("user_id") == 1)
        .orderBy("ts_us", "event_id")
        .collect()
    )
    assert got
    from eventstream_notify_spark.catalog import table

    src = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") == 1)
        .select(F.unix_micros("ts").alias("ts_us"), "event_id", "value")
        .orderBy("ts_us", "event_id")
        .collect()
    )
    vals = [int(r.value * 1e6 // 1) for r in src]
    import math

    for i, row in enumerate(got):
        window = vals[max(0, i - 19) : i + 1]
        n = len(window)
        num = sum(v * 2 ** (n - 1 - k) for k, v in enumerate(window))
        den = 2**n - 1
        assert math.isclose(row.ewma, (num / den) / 1e6, rel_tol=1e-12)


def test_graph_triangles_matches_python_reference(spark, sf_dir):
    """Edge-iterator triangle counts == brute-force python closure
    over the same dedup_near edge list."""
    from itertools import combinations

    from eventstream_notify_spark.operators.text import (
        dedup_near,
        graph_triangles,
    )

    edges = {
        (r.doc_a, r.doc_b) for r in dedup_near(spark, sf_dir).collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for a, b in edges:
        for c in adj[a] & adj[b]:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    # each triangle counted 3x above (once per edge)
    want = {n: c // 3 for n, c in want.items() if c}
    got = {
        r.doc_id: r.n_triangles
        for r in graph_triangles(spark, sf_dir).collect()
    }
    assert got == want


def test_graph_triangle_count_matches_python_closure(spark, sf_dir):
    """The class-compressed GLOBAL counts (triangles, edges, nodes,
    wedges) must equal a brute-force python closure over the expanded
    dedup_near edge list — guards the multiplicity combinatorics
    (C(m,3) internal, C(m,2)*m' cross, m*m'*m'' class-triangle, the
    (m-1)+sum(m_B) degree law) against the enumeration ground truth."""
    from eventstream_notify_spark.operators.text import (
        dedup_near,
        graph_triangle_count,
    )

    edges = {
        (r.doc_a, r.doc_b) for r in dedup_near(spark, sf_dir).collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n_tri = sum(len(adj[a] & adj[b]) for a, b in edges) // 3
    degs = {n: len(v) for n, v in adj.items()}
    row = graph_triangle_count(spark, sf_dir).collect()[0]
    assert row.n_triangles == n_tri
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(adj)
    assert row.n_wedges == sum(d * (d - 1) // 2 for d in degs.values())


def test_stream_agg_chain_consistency(spark, sf_dir):
    """Chained streaming aggs: hourly totals must equal the batch
    per-hour counts for every finalized hour."""
    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.streaming.pipeline import stream_agg_chain

    got = {
        (r.hour_us, r.event_type): (r.max_minute_n, r.total_n)
        for r in stream_agg_chain(spark, sf_dir).collect()
    }
    assert got
    ev = table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(
            F.expr("unix_micros(ts) div 3600000000 * 3600000000").alias(
                "hour_us"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    batch_n = {(r.hour_us, r.event_type): r.n for r in batch}
    for k, (mx, tot) in got.items():
        assert batch_n[k] == tot, k
        assert 1 <= mx <= tot


def test_recursive_paths_invariants(spark, sf_dir):
    from eventstream_notify_spark.operators.text import sql_recursive_paths

    rows = sql_recursive_paths(spark, sf_dir).collect()
    assert rows
    by_seed = {}
    for r in rows:
        assert r.min_hops in (0, 1, 2)
        by_seed.setdefault(r.seed, {})[r.doc] = r.min_hops
    for seed, reach in by_seed.items():
        assert seed % 100 == 0
        assert reach[seed] == 0  # every seed reaches itself at hop 0


def test_keywords_topk_shape(spark, sf_dir):
    from eventstream_notify_spark.operators.text import text_keywords

    rows = text_keywords(spark, sf_dir).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append((r.rnk, r.score, r.term))
    assert per_doc
    for doc, ks in per_doc.items():
        ks.sort()
        assert [k[0] for k in ks] == list(range(1, len(ks) + 1))
        assert len(ks) <= 3
        scores = [k[1] for k in ks]
        assert scores == sorted(scores, reverse=True)


def test_cms_heavy_hitters_exact(spark, sf_dir):
    """CMS propose + exact verify must equal the plain exact answer
    (the sketch can only widen the candidate set, never narrow it)."""
    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.operators.events import (
        _HEAVY_HITTER_MIN,
        heavy_hitters_cms,
    )

    got = {
        (r.user_id, r.n_events)
        for r in heavy_hitters_cms(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.n)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _HEAVY_HITTER_MIN)
        .collect()
    }
    assert got == want


def test_skyline_no_dominated_points(spark, sf_dir):
    """Brute-force dominance check over the returned frontier and a
    sample of excluded points."""
    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.operators.relational import skyline_pareto

    sky = skyline_pareto(spark, sf_dir).collect()
    assert sky
    pts = [
        (int(r.cents), int(r.sz))
        for r in table(spark, sf_dir, "part")
        .select(
            F.floor(F.col("p_retailprice") * 100 + 0.5).alias("cents"),
            F.col("p_size").alias("sz"),
        )
        .collect()
    ]

    def dominated(c, s):
        return any(
            (qc <= c and qs >= s) and (qc < c or qs > s) for qc, qs in pts
        )

    frontier = {(r.cents, r.sz) for r in sky}
    for c, s in frontier:
        assert not dominated(c, s)
    # every non-frontier point must be dominated
    for c, s in pts[:300]:
        if (c, s) not in frontier:
            assert dominated(c, s)


def test_lm_score_matches_python_reference(spark, sf_dir):
    """Recompute the add-one bigram model in pure Python over the same
    corpus and demand exact integer agreement (the kernel is all
    integer floor-division, so equality is exact, not approximate)."""
    import re
    from collections import Counter

    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.operators.text import llm_lm_score

    texts = {
        r.doc_id: re.findall(r"[a-z0-9]+", r.text.lower())
        for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    c12, c1, vocab = Counter(), Counter(), set()
    for ts in texts.values():
        vocab.update(ts)
        for a, b in zip(ts, ts[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    v = len(vocab)
    got = {r.doc_id: r for r in llm_lm_score(spark, sf_dir).collect()}
    assert set(got) == {d for d, ts in texts.items() if len(ts) >= 2}
    for doc_id, ts in texts.items():
        if len(ts) < 2:
            continue
        ref = sum(
            (1_000_000 * (c12[(a, b)] + 1)) // (c1[a] + v)
            for a, b in zip(ts, ts[1:])
        )
        r = got[doc_id]
        assert r.n_bigrams == len(ts) - 1
        assert r.sum_p_micro == ref
        assert r.lm_score == ref / (len(ts) - 1)

# ---------------------------------------------------------------- round-3 ops


def test_phash_kernel_matches_python_reference(spark):
    """Strided-md5 kernel == plain hashlib over the same bytes, and
    the oracle's byte==char stride precondition (ASCII corpus) holds
    on the test data."""
    import hashlib

    from eventstream_notify_spark.operators.multimodal import (
        PHASH_STRIDE,
        mm_dedup_phash,
    )

    txt = "the quick brown fox jumps over the lazy dog"
    expect = hashlib.md5(
        txt.encode("utf-8")[::PHASH_STRIDE]
    ).hexdigest()
    d = docs(spark, [(1, txt), (2, txt), (3, "other words")])
    import eventstream_notify_spark.operators.multimodal as mm

    media = mm.with_media_column(d)
    ph = media.select("doc_id", "payload").mapInPandas(
        mm.phash_batches, mm.PHASH_SCHEMA
    )
    rows = {r.doc_id: r.phash for r in ph.collect()}
    assert rows[1] == expect and rows[2] == expect
    assert rows[3] != expect

    # ASCII precondition of the SQL oracle at the test scale
    from eventstream_notify_spark.catalog import table

    n_non_ascii = (
        table(spark, "/root/testdata/sf0.001", "documents")
        .filter(F.octet_length(F.col("text")) != F.length(F.col("text")))
        .count()
    )
    assert n_non_ascii == 0


def test_sq8_recall_vs_exact(spark):
    """Quantized search must agree with exact cosine on most of the
    top-5: SQ8 on 64 dims carries ~1e-2 score error, far below the
    typical top-k gap."""
    from collections import defaultdict

    from eventstream_notify_spark.operators.vectors import (
        sim_search_cosine,
        sim_search_sq8,
    )

    sf = "/root/testdata/sf0.01"
    ex_top, sq_top = defaultdict(set), defaultdict(set)
    for r in sim_search_cosine(spark, sf).collect():
        ex_top[r.query_id].add(r.vec_id)
    for r in sim_search_sq8(spark, sf).collect():
        sq_top[r.query_id].add(r.vec_id)
    assert ex_top.keys() == sq_top.keys()
    overlap = sum(
        len(ex_top[q] & sq_top[q]) / 5.0 for q in ex_top
    ) / len(ex_top)
    # measured 0.98 at sf0.01 (r12); floor = measured - margin
    assert overlap >= 0.93


def test_m4_bucket_invariants(spark):
    """Every M4 bucket: min <= first/last <= max, time span ordered,
    and n sums to the table's row count."""
    from eventstream_notify_spark.operators.timeseries import (
        downsample_m4,
    )
    from eventstream_notify_spark.catalog import table

    sf = "/root/testdata/sf0.001"
    m4 = downsample_m4(spark, sf)
    bad = m4.filter(
        (F.col("v_min") > F.col("v_first"))
        | (F.col("v_min") > F.col("v_last"))
        | (F.col("v_max") < F.col("v_first"))
        | (F.col("v_max") < F.col("v_last"))
        | (F.col("ts_min_us") > F.col("ts_max_us"))
    ).count()
    assert bad == 0
    total = m4.agg(F.sum("n")).first()[0]
    assert total == table(spark, sf, "events").count()


def test_decompose_additive_identity(spark):
    """hourly_mean == trend + seasonal + residual (exact up to the
    independent 6-d.p. roundings of the four outputs)."""
    from eventstream_notify_spark.operators.timeseries import (
        ts_decompose,
    )

    df = ts_decompose(spark, "/root/testdata/sf0.001")
    bad = df.filter(
        F.abs(
            F.col("hourly_mean")
            - (F.col("trend") + F.col("seasonal") + F.col("residual"))
        )
        > 1e-5
    ).count()
    assert bad == 0
    assert df.count() > 0


def test_bpe_train_matches_python_reference(spark, monkeypatch):
    """The distributed 8-round BPE loop must reproduce the pure-python
    greedy trainer EXACTLY (same merges, same counts, same order) —
    including tie-breaks and overlapping-pair left-to-right scans."""
    from eventstream_notify_spark.operators import text as tx

    d = docs(
        spark,
        [
            (1, "hello hello hello help"),
            (2, "yellow mellow help hello"),
            (3, "lull lull hull"),
        ],
    )
    monkeypatch.setattr(tx, "table", lambda spark, sf_dir, name: d)
    got = [
        (r["round"], r.merge, r.pair_count)
        for r in tx.llm_bpe_train(spark, "ignored").collect()
    ]
    # reference: word frequencies over the same corpus
    words: dict = {}
    for _, t in [(1, "hello hello hello help"), (2, "yellow mellow help hello"), (3, "lull lull hull")]:
        for w in t.split():
            if len(w) >= 2:
                words[w] = words.get(w, 0) + 1
    want = [
        (i + 1, m, c)
        for i, (m, c) in enumerate(
            tx.bpe_reference_merges(words, tx._BPE_ROUNDS)
        )
    ]
    assert got == want


def test_pq_recall_vs_exact(spark):
    """PQ + exact re-rank must recover most of the exact top-5: the
    ADC shortlist (50 of the corpus) bounds what re-rank can recover,
    and with ~N/13 centroids per subspace measured recall@5 is 0.9 at
    sf0.01; 0.79 (measured 0.84 minus margin, r12 — VERDICT r11 #5
    closed the 14-point slack) is the regression floor (float-
    summation order in the Lloyd means can flip marginal assignments
    between runs)."""
    from collections import defaultdict

    from eventstream_notify_spark.operators.vectors import (
        sim_search_cosine,
        sim_search_pq,
    )

    sf = "/root/testdata/sf0.01"
    ex_top, pq_top = defaultdict(set), defaultdict(set)
    for r in sim_search_cosine(spark, sf).collect():
        ex_top[r.query_id].add(r.vec_id)
    for r in sim_search_pq(spark, sf).collect():
        pq_top[r.query_id].add(r.vec_id)
    assert ex_top.keys() == pq_top.keys()
    overlap = sum(
        len(ex_top[q] & pq_top[q]) / 5.0 for q in ex_top
    ) / len(ex_top)
    assert overlap >= 0.79


def test_bpe_encode_matches_python_reference(spark, monkeypatch):
    """Per-doc BPE token accounting must equal a pure-python pipeline
    (train merges -> rank-iterated encode -> per-doc sums) over the
    same literal corpus. The corpus is built so 'hel'+'lo' style late
    merges exercise the rank iteration."""
    import re

    from eventstream_notify_spark.operators import text as tx

    corpus = [
        (1, "hello hello hello help lo lo"),
        (2, "yellow mellow help hello shell"),
        (3, "lull lull hull hell hello"),
    ]
    d = docs(spark, corpus)
    monkeypatch.setattr(tx, "table", lambda spark, sf_dir, name: d)
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.chars_per_token)
        for r in tx.llm_bpe_encode(spark, "ignored").collect()
    }
    # pure-python twin
    freqs: dict = {}
    for _, t in corpus:
        for w in re.findall(tx.TOKEN_RE, t.lower()):
            if len(w) >= 2:
                freqs[w] = freqs.get(w, 0) + 1
    # rebuild the pair list exactly as the trainer does
    vocab = {tuple(w): f for w, f in freqs.items()}
    merges = []
    for _ in range(tx._BPE_ROUNDS):
        counts: dict = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best_cnt = max(counts.values())
        best = min(p for p, c in counts.items() if c == best_cnt)
        merges.append(best)
        new_vocab: dict = {}
        for syms, f in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    merged.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            new_vocab[tuple(merged)] = new_vocab.get(tuple(merged), 0) + f
        vocab = new_vocab
    want = {}
    for doc_id, t in corpus:
        ws = re.findall(tx.TOKEN_RE, t.lower())
        n_tok = sum(len(tx.bpe_reference_encode(w, merges)) for w in ws)
        n_chars = sum(len(w) for w in ws)
        want[doc_id] = (len(ws), n_tok, round(n_chars / n_tok, 6))
    assert got == want


def test_logreg_train_matches_numpy_reference(spark):
    """The distributed GD loop must reproduce a numpy implementation
    of the identical recurrence EXACTLY (not to tolerance): features
    and residuals quantize to integers, gradient sums are order-free
    integer sums, and the algebraic sigmoid is built from portable
    IEEE ops — so the two transcripts are bit-identical. The fit must
    also beat the majority-class rate."""
    import duckdb
    import numpy as np

    from eventstream_notify_spark.operators.vectors import (
        LOGREG_ITERS,
        LOGREG_LR,
        LOGREG_RS,
        LOGREG_XS,
        logreg_train,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.pos: r.weight for r in logreg_train(spark, sf).collect()}

    emb, lab = duckdb.sql(
        f"SELECT embedding, label FROM '{sf}/embeddings.parquet' ORDER BY vec_id"
    ).fetchnumpy().values()
    Xq = np.floor(
        np.stack([np.asarray(v, dtype=np.float64) for v in emb]) * LOGREG_XS
    )
    y = (1 - np.asarray(lab) % 2).astype(np.float64)
    n, dim = Xq.shape
    w = np.zeros(dim)
    b = 0.0

    def fold_margin(wv, bv):
        # the engine's SEQUENTIAL left fold over dims (a matmul's
        # pairwise summation could flip a downstream floor)
        m = np.zeros(n)
        for j in range(dim):
            m = m + (Xq[:, j] / float(LOGREG_XS)) * wv[j]
        return m + bv

    for _ in range(LOGREG_ITERS):
        m = fold_margin(w, b)
        p = 0.5 + 0.5 * (m / (1.0 + np.abs(m)))
        rq = np.floor((p - y) * LOGREG_RS).astype(np.int64)
        g = rq @ Xq.astype(np.int64)  # exact: integer products/sums
        w = w - LOGREG_LR * (g.astype(np.float64) / float(LOGREG_XS * LOGREG_RS)) / n
        b = b - LOGREG_LR * (float(rq.sum()) / float(LOGREG_RS)) / n
    m = fold_margin(w, b)
    acc = float(((m > 0).astype(np.float64) == y).mean())
    want = {i: round(float(w[i]), 6) for i in range(dim)}
    want[-1] = round(float(b), 6)
    want[-2] = round(acc, 6)
    assert got == want
    assert got[-2] > max(y.mean(), 1 - y.mean()) - 1e-9


def test_holt_winters_matches_reference(spark, sf_dir):
    """The distributed per-series kernel must reproduce the pure-python
    recurrence EXACTLY (same float ops, same order), on the same
    gap-filled daily series."""
    import duckdb

    from eventstream_notify_spark.operators.timeseries import (
        HW_HORIZON,
        holt_winters_reference,
        ts_holt_winters,
    )

    got = {
        (r.event_type, r.h): r.forecast
        for r in ts_holt_winters(spark, sf_dir).collect()
    }
    rows = duckdb.sql(
        f"""SELECT event_type, epoch_us(ts)//86400000000 AS day, COUNT(*) n
        FROM '{sf_dir}/events.parquet' GROUP BY 1,2 ORDER BY 1,2"""
    ).fetchall()
    series: dict = {}
    for et, day, n in rows:
        series.setdefault(et, {})[day] = n
    want = {}
    for et, cnt in series.items():
        full = list(range(min(cnt), max(cnt) + 1))
        ys = [float(cnt.get(d, 0)) for d in full]
        for h, v in enumerate(holt_winters_reference(ys), 1):
            want[(et, h)] = float(v)  # kernel emits unrounded (r9)
    assert got == want
    assert len(got) == len(series) * HW_HORIZON


def test_winnowing_matches_python_reference(spark, sf_dir):
    """Exact pair-set equality vs an independent pure-python winnowing
    implementation (Schleimer et al. 2003, set form) — guards the
    window-min / max-df / pair-emission pipeline end to end."""
    import hashlib
    import math
    import re as _re
    from collections import Counter

    import pyarrow.parquet as pq

    from eventstream_notify_spark.operators.text import (
        WINNOW_BUCKET_BUDGET,
        WINNOW_K,
        WINNOW_MAX_DF_FRAC,
        WINNOW_MIN_SHARED,
        WINNOW_W,
        text_winnowing,
    )

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))

    fps = {}
    for doc_id, text in docs.items():
        toks = _re.findall("[a-z0-9]+", text.lower())
        if len(toks) < WINNOW_K + WINNOW_W - 1:
            continue
        grams = [
            hashlib.md5(
                " ".join(toks[i : i + WINNOW_K]).encode()
            ).hexdigest()
            for i in range(len(toks) - WINNOW_K + 1)
        ]
        fps[doc_id] = {
            min(grams[j : j + WINNOW_W])
            for j in range(len(grams) - WINNOW_W + 1)
        }
    df = Counter(fp for s in fps.values() for fp in s)
    cap = max(5, math.ceil(len(fps) * WINNOW_MAX_DF_FRAC))
    keep = {fp for fp, c in df.items() if 2 <= c <= cap}
    shared = Counter()
    by_fp = {}
    for doc_id, s in fps.items():
        for fp in s & keep:
            by_fp.setdefault(fp, []).append(doc_id)
    for fp, ids in by_fp.items():
        ids.sort()
        for i, a in enumerate(ids[:WINNOW_BUCKET_BUDGET]):
            for b in ids[i + 1 :]:
                shared[(a, b)] += 1
    expect = {
        pair + (n,) for pair, n in shared.items() if n >= WINNOW_MIN_SHARED
    }

    got = {
        (r.doc_a, r.doc_b, r.shared_fps)
        for r in text_winnowing(spark, sf_dir).collect()
    }
    assert got == expect
    assert got  # non-vacuous at sf0.001


def test_unigram_train_matches_python_reference(spark, sf_dir):
    """Bit-exact equality of the distributed unigram-LM trainer vs the
    pure-python EM schedule over locally-counted words — pins seeding,
    the forward-backward E-step, fixed-point quantization, pruning and
    ranking end to end (the BPE-train precedent)."""
    import re as _re
    from collections import Counter

    import pyarrow.parquet as pq

    from eventstream_notify_spark.operators.text import (
        _UNI_WORD_MAX,
        _unigram_em,
        llm_unigram_train,
    )

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
    wc = Counter(
        w
        for text in tbl["text"].to_pylist()
        for w in _re.findall("[a-z0-9]+", text.lower())
        if len(w) <= _UNI_WORD_MAX
    )
    expect = _unigram_em(sorted(wc.items()))

    got = [
        (r.piece, r.q_count, r.rank)
        for r in llm_unigram_train(spark, sf_dir).collect()
    ]
    got.sort(key=lambda t: t[2])
    expect.sort(key=lambda t: t[2])
    assert got == expect
    assert len(got) > 10  # non-vacuous vocab


def test_unigram_encode_matches_python_reference(spark, sf_dir):
    """Per-doc unigram token accounting vs a pure-python recomputation
    (local word counts -> same EM schedule -> same Viterbi kernel) —
    exact equality on every row."""
    import math
    import re as _re
    from collections import Counter

    import pyarrow.parquet as pq

    from eventstream_notify_spark.operators.text import (
        _UNI_WORD_MAX,
        _unigram_em,
        llm_unigram_encode,
        unigram_viterbi_encode,
    )

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    docs = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    doc_words = {
        doc_id: [
            w
            for w in _re.findall("[a-z0-9]+", text.lower())
        ]
        for doc_id, text in docs.items()
    }
    wc = Counter(
        w
        for ws in doc_words.values()
        for w in ws
        if len(w) <= _UNI_WORD_MAX
    )
    trained = _unigram_em(sorted(wc.items()))
    total = sum(qc for _, qc, _ in trained if qc > 0)
    logp = {p: math.log(qc / total) for p, qc, _ in trained if qc > 0}
    # the operator encodes EVERY word (length-capped words only shape
    # training), so the twin must too
    all_words = {w for ws in doc_words.values() for w in ws}
    n_tok = {w: len(unigram_viterbi_encode(w, logp)) for w in all_words}

    expect = {}
    for doc_id, ws in doc_words.items():
        if not ws:
            continue
        toks = sum(n_tok[w] for w in ws)
        chars = sum(len(w) for w in ws)
        expect[doc_id] = (
            len(ws),
            toks,
            round(chars / toks, 6),
        )

    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.chars_per_token)
        for r in llm_unigram_encode(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) > 10


def test_pca_power_matches_numpy_reference(spark, sf_dir):
    """Bit-exact equality of the distributed PCA vs a single-node
    numpy recomputation of the SAME integer moments — pins the
    quantization, the decimal moment reduce, and the shared power-
    iteration kernel."""
    import numpy as np
    import pyarrow.parquet as pq

    from eventstream_notify_spark.operators.vectors import (
        PCA_SCALE,
        pca_power_components,
        vec_pca_power,
    )

    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["embedding"]
    )
    vs = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    q = np.floor(vs * PCA_SCALE + 0.5).astype(np.int64)
    expect = pca_power_components(q.T @ q, q.sum(axis=0), len(q))

    got = [
        (r.component, r.dim, r.loading, r.eigenvalue, r.explained_ratio)
        for r in vec_pca_power(spark, sf_dir).collect()
    ]
    assert sorted(got) == sorted(expect)
    # top component explains a plausible share on the clustered corpus
    assert expect[0][4] > 0.01


def test_wordpiece_train_matches_python_reference(spark, monkeypatch):
    """The distributed WordPiece loop must reproduce the pure-python
    likelihood-greedy trainer EXACTLY — merges, counts, scores, order,
    tie-breaks. The corpus is chosen so the likelihood argmax picks a
    DIFFERENT pair than BPE's raw-count argmax would (rare-unit pairs
    score above frequent-unit pairs)."""
    from eventstream_notify_spark.operators import text as tx

    corpus = [
        (1, "hello hello hello help zq zq"),
        (2, "yellow mellow help hello zq"),
        (3, "lull lull hull zqx"),
    ]
    d = docs(spark, corpus)
    monkeypatch.setattr(tx, "table", lambda spark, sf_dir, name: d)
    got = [
        (r["round"], r.merge, r.pair_count, r.score)
        for r in tx.llm_wordpiece_train(spark, "ignored").collect()
    ]
    words: dict = {}
    import re

    for _, t in corpus:
        for w in re.findall(tx.TOKEN_RE, t.lower()):
            if len(w) >= 2:
                words[w] = words.get(w, 0) + 1
    want = [
        (r, tx._wp_merge_token(a, b), c, s)
        for r, a, b, c, s in tx.wordpiece_reference_merges(
            words, tx._WP_ROUNDS
        )
    ]
    assert got == want


def test_wordpiece_encode_matches_python_reference(spark, monkeypatch):
    """Per-doc WordPiece token accounting == pure-python pipeline
    (reference trainer -> greedy longest-match encode -> per-doc
    sums); includes a word that hits the [UNK] whole-word rule (a
    1-char word whose char never starts a trained word)."""
    import re

    from eventstream_notify_spark.operators import text as tx

    corpus = [
        (1, "hello hello hello help lo q"),
        (2, "yellow mellow help hello shell"),
        (3, "lull lull hull hell hello"),
    ]
    d = docs(spark, corpus)
    monkeypatch.setattr(tx, "table", lambda spark, sf_dir, name: d)
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.chars_per_token)
        for r in tx.llm_wordpiece_encode(spark, "ignored").collect()
    }
    freqs: dict = {}
    for _, t in corpus:
        for w in re.findall(tx.TOKEN_RE, t.lower()):
            if len(w) >= 2:
                freqs[w] = freqs.get(w, 0) + 1
    merges = tx.wordpiece_reference_merges(freqs, tx._WP_ROUNDS)
    vocab = set()
    for w in freqs:
        vocab.update(tx.wordpiece_syms(w))
    for _, a, b, _, _ in merges:
        vocab.add(tx._wp_merge_token(a, b))
    want = {}
    for doc_id, t in corpus:
        ws = re.findall(tx.TOKEN_RE, t.lower())
        n_tok = sum(
            len(tx.wordpiece_reference_encode(w, vocab)) for w in ws
        )
        n_chars = sum(len(w) for w in ws)
        want[doc_id] = (len(ws), n_tok, round(n_chars / n_tok, 6))
    assert got == want


# ---------------------------------------------- round-9 new operators


def test_link_prediction_distance_two(spark, monkeypatch):
    """Constructed graph: Y adjacent to both X and Z (Jaccard 39/41 =
    .951 >= .95), X–Z NOT adjacent (38/42) — the only predicted link
    is (X, Z) through common neighbor Y, with cn=1 and the RA score
    1e12 div deg(Y)=2."""
    from eventstream_notify_spark.operators import text as tx

    base = " ".join(f"t{i:02d}" for i in range(1, 40))  # t01..t39
    y = base + " t40"
    x = base + " xa"
    z = " ".join(f"t{i:02d}" for i in range(2, 41)) + " zc"
    d = docs(spark, [(1, y), (2, x), (3, z), (9, "lonely doc here")])
    monkeypatch.setattr(tx, "table", lambda spark, sf_dir, name: d)
    rows = tx.graph_link_prediction(spark, "ignored").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (2, 3)
    assert r.common_neighbors == 1
    assert r.ra_micro == 10**12 // 2


def test_ar1_recovers_linear_recurrence(spark, monkeypatch):
    """A noise-free x_t = 10 + 0.9 x_{t-1} daily series: the exact
    integer-moment regression must recover phi ~ 0.9 and forecast the
    true next value."""
    import datetime as dt

    from eventstream_notify_spark.operators import timeseries as ts

    rows = []
    x = 500.0
    for day in range(16):
        rows.append(
            (7, dt.datetime(2026, 1, 1) + dt.timedelta(days=day), x)
        )
        x = 10.0 + 0.9 * x
    d = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    monkeypatch.setattr(ts, "table", lambda spark, sf_dir, name: d)
    out = ts.ts_ar1_forecast(spark, "ignored").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_pairs == 15
    assert abs(r.phi - 0.9) < 1e-4
    assert abs(r.intercept - 10.0) < 0.1
    # last observed x is rows[-1][2]'s PREVIOUS value: the series had
    # 16 points; forecast_1 ~ 10 + 0.9 * x_15
    last = rows[-1][2]
    assert abs(r.forecast_1 - (10.0 + 0.9 * last)) < 0.01


def test_eval_pr_auc_perfect_separation(spark, monkeypatch):
    """One-hot embeddings by label => every vector is distance-0 to
    its own class centroid: average precision is exactly 1.0 per
    class and ap_micro = n_pos * 1e12."""
    from eventstream_notify_spark.operators import vectors as vx

    rows = []
    vid = 0
    for label in range(3):
        for _ in range(4):
            e = [0.0] * 8
            e[label] = 1.0
            rows.append((vid, e, label))
            vid += 1
    d = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(vx, "table", lambda spark, sf_dir, name: d)
    out = {r.cls: r for r in vx.eval_pr_auc(spark, "ignored").collect()}
    assert set(out) == {0, 1, 2}
    for cls, r in out.items():
        assert r.n == 12 and r.n_pos == 4
        assert r.ap_micro == 4 * 10**12
        assert r.avg_precision == 1.0


def test_aqp_estimate_consistency(spark, sf_dir):
    """The deterministic-sample estimator: estimates are exact
    multiples of the inverse rate, exact counts match the table, and
    the measured relative error is sane at 1/64 sampling."""
    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.operators.analytics import (
        AQP_MOD,
        aqp_sample_estimate,
    )

    rows = aqp_sample_estimate(spark, sf_dir).collect()
    li = table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert {r.l_returnflag for r in rows} == set(exact)
    for r in rows:
        assert r.n_exact == exact[r.l_returnflag]
        assert r.n_est % AQP_MOD == 0
        assert r.rel_err_n < 0.5 and r.rel_err_sum < 0.5


def test_span_corruption_invariants(spark, sf_dir):
    """Spans stay inside their doc, never overlap (block construction
    guarantees it), reproduce the exact token slice, and mask a sane
    fraction of tokens."""
    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.operators.curation import (
        llm_span_corruption,
    )

    rows = llm_span_corruption(spark, sf_dir).collect()
    assert rows
    texts = {
        r.doc_id: r.text
        for r in table(spark, sf_dir, "documents").collect()
    }
    per_doc: dict = {}
    masked = 0
    for r in rows:
        toks = texts[r.doc_id].strip().split()
        assert 1 <= r.span_start
        assert r.span_start + r.span_len - 1 <= len(toks)
        got = " ".join(
            toks[r.span_start - 1 : r.span_start - 1 + r.span_len]
        )
        assert r.span_text == got, (r.doc_id, r.span_start, r.span_len)
        per_doc.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_len)
        )
        masked += r.span_len
    for spans in per_doc.values():
        spans.sort()
        for (s1, l1), (s2, _) in zip(spans, spans[1:]):
            assert s1 + l1 <= s2, "overlapping spans"
    total_tokens = sum(len(t.strip().split()) for t in texts.values())
    assert 0.02 < masked / total_tokens < 0.25


def test_delete_vectors_accounting(spark, sf_dir):
    """Per-file accounting must balance and the deterministic delete
    draw lands near its 1/37 rate corpus-wide."""
    from eventstream_notify_spark.operators.analytics import (
        DV_MOD,
        store_delete_vectors,
    )

    rows = store_delete_vectors(spark, sf_dir).collect()
    assert rows
    total = sum(r.n_rows for r in rows)
    deleted = sum(r.n_deleted for r in rows)
    for r in rows:
        assert r.n_rows == r.n_deleted + r.n_live
        assert r.live_bytes >= 0
    assert 0 < deleted < total
    assert abs(deleted / total - 1 / DV_MOD) < 0.05


def test_maxsim_is_token_permutation_invariant(spark, monkeypatch):
    """The point of late interaction: permuting a DOC's token vectors
    must not change its MaxSim score (each query token maxes over all
    doc tokens), while single-vector cosine WOULD change under the
    same permutation of dims."""
    from eventstream_notify_spark.operators import vectors as vx

    def emb(tokens):
        out = []
        for t in tokens:
            out.extend(t)
        return out

    t_a = [1.0] + [0.0] * 15
    t_b = [0.0, 1.0] + [0.0] * 14
    t_c = [0.0, 0.0, 1.0] + [0.0] * 13
    t_d = [0.0] * 3 + [1.0] + [0.0] * 12
    rows = [
        (0, emb([t_a, t_b, t_c, t_d]), 0),      # the query
        (1, emb([t_a, t_b, t_c, t_d]), 0),      # same tokens, same order
        (2, emb([t_d, t_c, t_b, t_a]), 0),      # same tokens, permuted
        (3, emb([t_a, t_a, t_a, t_a]), 0),      # only one token matches
    ]
    d = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(vx, "table", lambda spark, sf_dir, name: d)
    got = {
        (r.query_id, r.vec_id): r.score
        for r in vx.sim_search_maxsim(spark, "ignored").collect()
    }
    # doc 1 and the permuted doc 2 score identically (4 matched tokens)
    assert got[(0, 1)] == got[(0, 2)] == 4.0
    # doc 3 matches only query token 0 -> score 1
    assert got[(0, 3)] == 1.0


def test_ucb_replay_converges_to_best_arm(spark, monkeypatch):
    """Constructed two-arm stream where arm 'good' pays 10x arm 'bad':
    day 1 has no priors (forced exploration, NULL ucb); after both
    arms have pulls the policy settles on 'good'."""
    import datetime as dt

    from eventstream_notify_spark.operators import analytics as an

    rows = []
    eid = 0
    for day in range(12):
        t = dt.datetime(2026, 2, 1) + dt.timedelta(days=day)
        for _ in range(5):
            rows.append((eid, t, 1, "good", 100.0, "{}")); eid += 1
            rows.append((eid, t, 2, "bad", 10.0, "{}")); eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(an, "table", lambda spark, sf_dir, name: d)
    out = sorted(
        an.bandit_ucb_replay(spark, "ignored").collect(),
        key=lambda r: r.day,
    )
    assert len(out) == 12
    assert out[0].ucb is None and out[0].n_prior == 0
    # late days: the policy has converged on the dominant arm
    for r in out[4:]:
        assert r.chosen_arm == "good"
        assert abs(r.realized_reward - 100.0) < 1e-9


def test_kcore_peels_pendants_keeps_clique(spark, monkeypatch):
    """A 4-clique (identical docs) plus an edge-less doc: only the
    clique survives the 3-core, each member with within-core
    degree 3."""
    from eventstream_notify_spark.operators import text as tx

    base = " ".join(f"t{i:02d}" for i in range(1, 40))
    clique = base + " t40"
    d = docs(
        spark,
        [(1, clique), (2, clique), (3, clique), (4, clique), (9, "zz yy")],
    )
    monkeypatch.setattr(tx, "table", lambda spark, sf_dir, name: d)
    got = {
        r.doc_id: r.core_degree
        for r in tx.graph_kcore(spark, "ignored").collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_heavy_change_shape(spark, sf_dir):
    from eventstream_notify_spark.operators.analytics import (
        HC_TOPK,
        topk_heavy_change,
    )

    rows = topk_heavy_change(spark, sf_dir).collect()
    assert 0 < len(rows) <= HC_TOPK
    deltas = [abs(r.delta) for r in rows]
    assert deltas == sorted(deltas, reverse=True)
    for r in rows:
        assert r.delta == r.n_after - r.n_before


def test_dataset_card_totals(spark, sf_dir):
    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.operators.analytics import (
        llm_dataset_card,
    )

    card = llm_dataset_card(spark, sf_dir).first()
    docs_df = table(spark, sf_dir, "documents").collect()
    nonempty = [r for r in docs_df if r.text.strip()]
    assert card.n_docs == len(nonempty)
    assert card.n_tokens == sum(len(r.text.strip().split()) for r in nonempty)
    assert card.n_langs == len({r.lang for r in nonempty})
    assert card.n_exact_dups == len(nonempty) - len(
        {r.text for r in nonempty}
    )


def test_kcenter_picks_one_per_separated_cluster(spark, monkeypatch):
    """Constructed corpus: 8 well-separated cluster centers (one-hot
    * 1.0 on distinct dims), each with 4 tightly-packed members
    (offset 1e-3 on another dim). Greedy k-center with k=8 must pick
    EXACTLY one member from each cluster, and the covering radius
    must be the tiny intra-cluster spread, not an inter-cluster gap."""
    from eventstream_notify_spark.operators import vectors as vx

    rows = []
    vid = 0
    for c in range(8):
        for m in range(4):
            vec = [0.0] * 64
            vec[c] = 1.0
            vec[32 + c] = m * 1e-3
            rows.append((vid, vec, c))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(vx, "table", lambda spark, sf_dir, name: emb)
    got = vx.coreset_kcenter(spark, "ignored").collect()
    assert len(got) == 8
    clusters = sorted(r.vec_id // 4 for r in got)
    assert clusters == list(range(8)), clusters
    # intra-cluster spread: <= (3e-3 * 1e6)^2 = 9e6; inter-cluster
    # gap: ~2 * (1e6)^2 = 2e12 — covering radius must be the former
    assert all(r.covering_r2 <= 9_000_000 for r in got)


def test_mutual_knn_pairs_form_a_matching(spark, sf_dir):
    """Top-1 is unique per vector, so mutual pairs form a MATCHING:
    no vector appears in two pairs, pairs are ordered a < b, and the
    score is symmetric by construction (one row per unordered pair)."""
    from eventstream_notify_spark.operators import vectors as vx

    rows = vx.mutual_knn_pairs(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert r.vec_a not in seen and r.vec_b not in seen
        seen.add(r.vec_a)
        seen.add(r.vec_b)
        assert r.same_label == int(r.label_a == r.label_b)


def test_pava_fit_properties():
    """PAVA invariants: block rates strictly increase (equal-rate
    neighbors pool), totals are preserved, and an already-monotone
    input passes through unpooled; a decreasing input pools to ONE
    block whose rate is the global mean."""
    from eventstream_notify_spark.operators.vectors import pava_fit

    mono = [(0, 10, 1), (1, 10, 3), (2, 10, 7)]
    assert pava_fit(mono) == [(0, 0, 10, 1), (1, 1, 10, 3), (2, 2, 10, 7)]

    dec = [(0, 10, 9), (1, 10, 5), (2, 10, 1)]
    assert pava_fit(dec) == [(0, 2, 30, 15)]

    import random

    rng = random.Random(7)
    bins = [(x, rng.randint(1, 20), 0) for x in range(50)]
    bins = [(x, n, rng.randint(0, n)) for x, n, _ in bins]
    blocks = pava_fit(bins)
    assert sum(b[2] for b in blocks) == sum(n for _, n, _ in bins)
    assert sum(b[3] for b in blocks) == sum(s for _, _, s in bins)
    rates = [b[3] / b[2] for b in blocks]
    assert all(r1 < r2 for r1, r2 in zip(rates, rates[1:]))
    los = [b[0] for b in blocks]
    his = [b[1] for b in blocks]
    assert los[0] == 0 and his[-1] == 49
    assert all(h + 1 == l for h, l in zip(his, los[1:]))


def test_mutual_knn_block_nl_matches_brute_force(spark, monkeypatch):
    """The distributed block-nested-loop MNN (cogrouped kernel +
    struct-max reduce) must equal a brute-force python MNN on a
    corpus CONSTRUCTED so that (a) top-1 candidates land in different
    pmod blocks than their queries and (b) several candidates TIE on
    the quantized score — the min-dst tie-break must hold across
    block boundaries, not just within a kernel call."""
    import numpy as np

    from eventstream_notify_spark.operators import vectors as vx

    rng = np.random.default_rng(11)
    base = rng.normal(size=(6, 8))
    rows = []
    # 6 clusters x 8 members; members of a cluster are EXACT copies,
    # so every member's score against each sibling ties at 1e6 and
    # the winner must be the smallest sibling id — ids stride 6 so
    # siblings scatter across all pmod(id, 8) blocks and pmod(id, 4)
    # chunks
    for i in range(48):
        v = base[i % 6]
        rows.append((i, [float(x) for x in v], i % 6))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(vx, "table", lambda spark, sf_dir, name: emb)
    got = {
        (r.vec_a, r.vec_b): r.score_micro
        for r in vx.mutual_knn_pairs(spark, "ignored").collect()
    }

    # brute force with identical quantization + tie-break
    Q = np.floor(np.array([r[1] for r in rows], dtype=np.float64) * 1e6)
    nrm = np.sqrt((Q * Q).sum(axis=1))
    sm = np.floor(Q @ Q.T / (nrm[:, None] * nrm[None, :]) * 1e6)
    np.fill_diagonal(sm, -np.inf)
    top1 = {
        i: int(np.argmax(sm[i]))  # first max = min id
        for i in range(48)
    }
    want = {
        (a, b): int(sm[a][b])
        for a, b in ((i, top1[i]) for i in range(48))
        if a < b and top1[b] == a
    }
    assert got == want
    # every cluster's two smallest ids pair up: i <-> i+6
    assert all((i, i + 6) in got for i in range(6))


def test_mutual_knn_plan_is_distributed(spark, sf_dir):
    """The r9 flag: the registered MNN plan must carry the search as
    a cogrouped Arrow kernel — NO driver collect, no corpus-wide
    forced broadcast. Pin the plan node so a regression to the
    collect+broadcast form fails loudly."""
    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.operators import vectors as vx
    from eventstream_notify_spark.plans.explain import plan_str

    top1 = plan_str(
        vx.mnn_top1(table(spark, sf_dir, "embeddings")), "simple"
    )
    assert "FlatMapCoGroupsInPandas" in top1
    assert "CartesianProduct" not in top1
    final = plan_str(vx.mutual_knn_pairs(spark, sf_dir), "simple")
    assert "CartesianProduct" not in final
    # the search stage must not be a collect: no corpus-sized
    # broadcast feeds the kernel (the two broadcasts in the final
    # plan are the planner's size-chosen label joins)
    assert "broadcast" not in top1.lower()


def test_mutual_knn_lsh_recall_floor(spark):
    """The LSH-bucketed MNN (the registered 100 TB scale path) must
    recover >= 0.85 of the exact sibling's pairs at sf0.01 — a harsh
    floor for a banded method because BOTH endpoints' top-1 must
    survive candidate restriction (measured 0.971 at sf0.01 / 0.943
    at sf0.1 with 16 x 2-bit bands); and everything it emits must be
    a genuine mutual pair among its candidates (matching invariant)."""
    from eventstream_notify_spark.operators import vectors as vx

    sf = "/root/testdata/sf0.01"
    exact = {
        (r.vec_a, r.vec_b)
        for r in vx.mutual_knn_pairs(spark, sf).collect()
    }
    rows = vx.mutual_knn_pairs_lsh(spark, sf).collect()
    lsh = {(r.vec_a, r.vec_b) for r in rows}
    assert len(exact & lsh) / len(exact) >= 0.85
    seen: set = set()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert r.vec_a not in seen and r.vec_b not in seen
        seen.add(r.vec_a)
        seen.add(r.vec_b)


def test_mutual_knn_lsh_plan_is_bucketed(spark, sf_dir):
    """The scale path's search stage must be the cogrouped kernel over
    band buckets — no driver collect, no corpus broadcast, no
    cartesian blowup."""
    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.operators import vectors as vx
    from eventstream_notify_spark.plans.explain import plan_str

    plan = plan_str(
        vx.mnn_top1_lsh(table(spark, sf_dir, "embeddings")), "simple"
    )
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "broadcast" not in plan.lower()
