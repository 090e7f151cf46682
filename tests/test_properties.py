"""Property-based invariants (hypothesis) for the engine kernels.

Each property runs a small number of examples, batching generated
inputs into ONE DataFrame per example so the Spark-job count stays
bounded.
"""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from pyspark.sql import functions as F

from football_data_pipeline_spark.functions.normalize import normalize_name
from football_data_pipeline_spark.operators.dedup import word_set
from football_data_pipeline_spark.operators.upsert import keep_latest, upsert_replace

FAST = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

names = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs"), max_codepoint=0x2FF),
    min_size=0,
    max_size=40,
)

ascii_names = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs"), max_codepoint=0x7F),
    min_size=0,
    max_size=40,
)


@given(st.lists(ascii_names, min_size=1, max_size=30))
@FAST
def test_normalize_idempotent_ascii(spark, xs):
    """normalize(normalize(x)) == normalize(x) on accent-free input.

    Full idempotence is deliberately NOT claimed: the reference folds
    accents AFTER the token rules (enhanced_mapping.py:309-323), so a
    fold can mint a rule token on the second pass ('SÇ' → 'sc' → '' —
    hypothesis found this; pinned below). The engine normalizes each
    side exactly once, so join stability only needs determinism plus
    ASCII idempotence."""
    df = spark.createDataFrame([(x,) for x in xs], "raw string")
    out = df.select(
        normalize_name(F.col("raw")).alias("once"),
    ).select("once", normalize_name(F.col("once")).alias("twice"))
    bad = out.filter(F.col("once") != F.col("twice")).collect()
    assert bad == [], bad


def test_normalize_accent_fold_order_quirk(spark):
    """Reference-parity pin: token rules run before accent folding,
    so 'SÇ' one-pass-normalizes to 'sc' (NOT stripped — the rule saw
    'sç'), while a literal 'SC' is stripped to ''."""
    df = spark.createDataFrame([("SÇ",), ("SC",)], "raw string")
    got = {r.raw: r.norm for r in df.select("raw", normalize_name(F.col("raw")).alias("norm")).collect()}
    assert got == {"SÇ": "sc", "SC": ""}


@given(st.lists(names, min_size=1, max_size=30))
@FAST
def test_word_set_is_set(spark, xs):
    """word_set emits distinct, empty-free tokens (set semantics)."""
    df = spark.createDataFrame([(x,) for x in xs], "t string")
    rows = df.select(word_set(F.col("t")).alias("ws")).collect()
    for r in rows:
        assert len(r["ws"]) == len(set(r["ws"]))
        assert "" not in r["ws"]


events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=50),  # ts
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)


@given(events)
@FAST
def test_keep_latest_idempotent_and_maximal(spark, rows):
    """keep_latest is idempotent, emits one row per key, and that row
    carries the key's maximal (ts, value) order key — INSERT OR
    REPLACE replay semantics."""
    df = spark.createDataFrame(
        [(k, t, v) for k, t, v in rows], "k long, ts long, v double"
    )
    once = keep_latest(df, ["k"], ["ts", "v"])
    got = {r["k"]: (r["ts"], r["v"]) for r in once.collect()}
    assert len(got) == len({k for k, _, _ in rows})
    for k in got:
        assert got[k] == max((t, v) for kk, t, v in rows if kk == k)
    twice = keep_latest(once, ["k"], ["ts", "v"])
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


@given(events, events)
@FAST
def test_upsert_replace_delta_wins_and_idempotent(spark, base_rows, delta_rows):
    """After upsert_replace, every delta key carries the delta's
    maximal row (replace), base-only keys are untouched, and applying
    the same delta again changes nothing."""
    base = keep_latest(
        spark.createDataFrame([(k, t, v) for k, t, v in base_rows], "k long, ts long, v double"),
        ["k"],
        ["ts", "v"],
    )
    delta = keep_latest(
        spark.createDataFrame([(k, t, v) for k, t, v in delta_rows], "k long, ts long, v double"),
        ["k"],
        ["ts", "v"],
    )
    merged = upsert_replace(base, delta, keys=["k"], order_cols=["ts", "v"])
    got = {r["k"]: (r["ts"], r["v"]) for r in merged.collect()}
    delta_map = {r["k"]: (r["ts"], r["v"]) for r in delta.collect()}
    base_map = {r["k"]: (r["ts"], r["v"]) for r in base.collect()}
    for k, tv in delta_map.items():
        assert got[k] == tv  # replace, even when base had a later ts
    for k, tv in base_map.items():
        if k not in delta_map:
            assert got[k] == tv
    again = upsert_replace(merged, delta, keys=["k"], order_cols=["ts", "v"])
    assert {r["k"]: (r["ts"], r["v"]) for r in again.collect()} == got


asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # key
        st.integers(min_value=0, max_value=40),  # ts (seconds offset)
        st.floats(min_value=-5, max_value=5, allow_nan=False),
    ),
    min_size=1,
    max_size=25,
)


@given(asof_rows, asof_rows)
@FAST
def test_asof_join_matches_pointwise_model(spark, ls, rs):
    """asof_join == the per-row model: for each left row, the right
    row with max ts ≤ left.ts in the same key (rights pre-deduped per
    (key, ts)). Left row count is always preserved."""
    from football_data_pipeline_spark.operators.timeseries import asof_join

    base = "2024-01-01 00:00:"
    l_df = spark.createDataFrame(
        [(k, f"{base}{t:02d}" if t < 60 else None, i) for i, (k, t, _) in enumerate(ls)],
        "k long, ts_s string, row_id long",
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "row_id")
    # dedupe rights per (k, ts): keep max value as the model's pick
    r_best = {}
    for k, t, v in rs:
        r_best[(k, t)] = max(v, r_best.get((k, t), float("-inf")))
    r_df = spark.createDataFrame(
        [(k, f"{base}{t:02d}", v) for (k, t), v in r_best.items()],
        "k long, ts_s string, value double",
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "value")
    out = {r.row_id: r for r in asof_join(l_df, r_df, on="k").collect()}
    assert len(out) == len(ls)
    for i, (k, t, _) in enumerate(ls):
        prior = [(pt, v) for (pk, pt), v in r_best.items() if pk == k and pt <= t]
        got = out[i]
        if prior:
            exp_t, exp_v = max(prior)
            assert got.asof_value == exp_v
            assert got.asof_ts.second + got.asof_ts.minute * 60 == exp_t
        else:
            assert got.asof_value is None and got.asof_ts is None


pair_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=15), st.integers(min_value=0, max_value=15)),
    min_size=0,
    max_size=20,
)


@given(pair_lists)
@FAST
def test_connected_components_matches_union_find(spark, raw_pairs):
    """connected_components == a driver-side union-find on the same
    edges: same node→component assignment, canonical = component min."""
    from football_data_pipeline_spark.operators.dedup import connected_components

    pairs = [(a, b) for a, b in raw_pairs if a != b]
    if not pairs:
        return
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.doc_id: r for r in connected_components(df).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    for a, b in pairs:
        union(a, b)
    comps = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    expected = {}
    for members in comps.values():
        m = min(members)
        for n in members:
            expected[n] = (m, len(members))
    assert set(got) == set(expected)
    for n, (comp, size) in expected.items():
        assert got[n].component == comp
        assert got[n].component_size == size
        assert got[n].is_canonical == (n == comp)


rgb_dims = st.tuples(st.integers(1, 12), st.integers(1, 12))


@given(
    rgb_dims,
    st.binary(min_size=0, max_size=0),  # placeholder so hypothesis shrinks dims first
    st.randoms(use_true_random=False),
)
@FAST
def test_ppm_bmp_roundtrip_and_resize_identity(spark, dims, _b, rng):
    """Pure-codec properties (no Spark): PPM encode→decode is the
    identity; a hand-packed BMP of the same pixels decodes equal;
    nearest-neighbor resize to the SAME dims is the identity; resize
    output always has exactly new_w*new_h*3 bytes with every pixel
    drawn from the source image."""
    import struct

    from football_data_pipeline_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_ppm,
        resize_nearest,
    )

    w, h = dims
    rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
    assert decode_ppm(encode_ppm(w, h, rgb)) == (w, h, rgb)

    # pack the same pixels as a bottom-up 24-bit BMP
    stride = (w * 3 + 3) & ~3
    raster = b""
    for y in reversed(range(h)):
        row = rgb[y * w * 3 : (y + 1) * w * 3]
        line = b"".join(row[i * 3 : i * 3 + 3][::-1] for i in range(w))  # RGB→BGR
        raster += line + b"\0" * (stride - len(line))
    header = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + len(raster), 0, 0, 14 + 40)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    )
    assert decode_bmp(header + raster) == (w, h, rgb)

    assert resize_nearest(w, h, rgb, w, h) == rgb
    nw, nh = max(1, w // 2), min(12, h * 2)
    out = resize_nearest(w, h, rgb, nw, nh)
    assert len(out) == nw * nh * 3
    pixels = {rgb[i * 3 : i * 3 + 3] for i in range(w * h)}
    assert all(out[i * 3 : i * 3 + 3] in pixels for i in range(nw * nh))


def test_connected_components_edges(spark):
    """Degenerate inputs: empty pair set → empty labels (no crash);
    max_iter < 1 raises the descriptive convergence error, not a
    NameError."""
    import pytest as _pytest

    from football_data_pipeline_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=0)


@given(
    st.lists(
        st.integers(min_value=0, max_value=130),  # word counts incl. edges
        min_size=1,
        max_size=12,
    )
)
@FAST
def test_chunking_covers_and_reconstructs(spark, lens):
    """Chunk-geometry invariants for every document length: (a) every
    word index is covered by at least one window; (b) taking the
    first STRIDE words of each chunk plus the tail of the last
    reconstructs the document; (c) starts advance by exactly STRIDE
    and the final window reaches the last word."""
    from football_data_pipeline_spark.operators.chunking import (
        CHUNK_WORDS,
        STRIDE_WORDS,
        chunk_documents,
    )

    rows = [
        (i, "en", "w", " ".join(f"w{i}x{j}" for j in range(n)))
        for i, n in enumerate(lens)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    out = chunk_documents(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(lens):
        if n == 0:
            assert i not in by_doc
            continue
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert [c.start_word for c in chunks] == [
            k * STRIDE_WORDS for k in range(len(chunks))
        ]
        covered = set()
        for c in chunks:
            words = c.chunk_text.split()
            assert len(words) == c.n_words <= CHUNK_WORDS
            covered.update(range(c.start_word, c.start_word + c.n_words))
        assert covered == set(range(n))  # (a) full coverage, no gaps
        last = chunks[-1]
        assert last.start_word + last.n_words == n  # (c) reaches the end
        # (b) reconstruction from stride-disjoint prefixes
        rebuilt = []
        for c in chunks[:-1]:
            rebuilt.extend(c.chunk_text.split()[:STRIDE_WORDS])
        rebuilt.extend(chunks[-1].chunk_text.split())
        assert rebuilt == [f"w{i}x{j}" for j in range(n)]


def test_asof_join_ignores_null_right_timestamps(spark):
    """A right row with NULL ts can never be an as-of match (DuckDB
    ASOF semantics: r.ts <= l.ts is never true for NULL) — it must
    not latch as the 'latest' row for early left rows."""
    from pyspark.sql import functions as F

    from football_data_pipeline_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00"), (1, "2026-01-01 12:00:00")],
        "k long, t string",
    ).select("k", F.to_timestamp("t").alias("ts"))
    right = spark.createDataFrame(
        [(1, None, 99.0), (1, "2026-01-01 11:00:00", 42.0)],
        "k long, t string, v double",
    ).select("k", F.to_timestamp("t").alias("ts"), "v")
    out = sorted(
        (r.ts.isoformat(), r.asof_v) for r in asof_join(left, right, "k").collect()
    )
    # 10:00 has NO match (the NULL-ts row must not fill in); 12:00
    # matches the 11:00 row
    assert out == [("2026-01-01T10:00:00", None), ("2026-01-01T12:00:00", 42.0)]


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 50)),
        min_size=1,
        max_size=60,
    )
)
@FAST
def test_salted_distinct_matches_exact_model(spark, rows):
    """salted two-stage COUNT(DISTINCT) == the exact python model on
    arbitrary (group, value) multisets."""
    from football_data_pipeline_spark.operators.skew import salted_distinct_count

    df = spark.createDataFrame(
        [(f"g{g}", v) for g, v in rows], "g string, v long"
    )
    out = {
        r.g: r.n_distinct
        for r in salted_distinct_count(df, "g", "v", n=4).collect()
    }
    model = {}
    for g, v in rows:
        model.setdefault(f"g{g}", set()).add(v)
    assert out == {g: len(vs) for g, vs in model.items()}


@given(
    st.lists(st.integers(0, 12), min_size=1, max_size=80),
    st.integers(1, 6),
)
@FAST
def test_heavy_hitters_matches_having_model(spark, keys, threshold):
    """two-pass heavy hitters == GROUP BY HAVING for any key multiset
    and threshold, at a width small enough to force candidate-bucket
    collisions."""
    from collections import Counter

    from football_data_pipeline_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = {
        r.key_value: r.n_rows
        for r in heavy_hitters(df, "k", threshold, width=8).collect()
    }
    model = {k: n for k, n in Counter(keys).items() if n >= threshold}
    assert out == model


@given(
    st.lists(st.integers(0, 40), min_size=0, max_size=40),
    st.lists(st.integers(0, 40), min_size=1, max_size=40),
)
@FAST
def test_bloom_semi_join_matches_set_model(spark, key_rows, fact_rows):
    """bloom-pruned semi-join == plain membership for arbitrary key
    and fact multisets, with the filter deliberately starved (64
    bits) so false positives are routine and the verify join must
    earn its keep."""
    from football_data_pipeline_spark.operators.sketches import bloom_semi_join

    facts = spark.createDataFrame([(k,) for k in fact_rows], "k long")
    keys = spark.createDataFrame([(k,) for k in key_rows], "k long") if key_rows else (
        spark.createDataFrame([], "k long")
    )
    out = sorted(r.k for r in bloom_semi_join(facts, keys, "k", num_bits=64, k=3).collect())
    keyset = set(key_rows)
    assert out == sorted(k for k in fact_rows if k in keyset)


@given(
    st.lists(st.tuples(st.integers(0, 6), st.integers(0, 9)), max_size=10),
    st.lists(
        st.tuples(
            st.integers(0, 6),   # key
            st.integers(0, 4),   # seq (small -> ties likely)
            st.booleans(),       # True -> 'U'
            st.integers(0, 9),   # payload
        ),
        max_size=16,
    ),
)
@FAST
def test_cdc_apply_matches_python_model(spark, base_rows, change_rows):
    """apply_changes == a direct python model of its documented
    semantics (max (seq, op, payload) wins; 'U' upserts, 'D'
    removes, untouched base survives), including equal-seq ties."""
    from football_data_pipeline_spark.operators.cdc import apply_changes

    base_map = {}
    for k, v in base_rows:
        base_map[k] = v  # duplicate base keys: last write wins in model
    base_rows = [(k, v) for k, v in base_map.items()]
    base = spark.createDataFrame(base_rows or [], "k long, v long")
    chg = spark.createDataFrame(
        [(k, s, "U" if u else "D", p) for k, s, u, p in change_rows] or [],
        "k long, seq long, op string, v long",
    )
    out = {
        r.k: r.v
        for r in apply_changes(base, chg, "k", "seq", "op", ["v"]).collect()
    }
    winners = {}
    for k, s, u, p in change_rows:
        op = "U" if u else "D"
        cand = (s, op, p)
        if k not in winners or cand > winners[k]:
            winners[k] = cand
    model = dict(base_map)
    for k, (s, op, p) in winners.items():
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = p
    assert out == model


@given(
    rate=st.integers(min_value=1, max_value=192_000),
    channels=st.integers(min_value=1, max_value=4),
    bits=st.sampled_from([8, 16]),
    body=st.binary(min_size=0, max_size=512),
)
@FAST
def test_wav_roundtrip_property(rate, channels, bits, body):
    """encode_wav ∘ decode_wav is the identity on (rate, channels,
    bits, samples) for ANY byte body — pure-Python codec, no Spark."""
    from football_data_pipeline_spark.operators.audio import (
        decode_wav,
        encode_wav,
        try_decode_wav,
    )

    wav = encode_wav(rate, channels, body, bits=bits)
    assert decode_wav(wav) == (rate, channels, bits, body)
    # arbitrary junk never raises through the guarded form
    assert try_decode_wav(body) is None or body[:4] == b"RIFF"


@given(
    w2=st.integers(min_value=1, max_value=16),
    h2=st.integers(min_value=1, max_value=16),
    fps=st.integers(min_value=1, max_value=120),
    lumas=st.lists(st.integers(min_value=0, max_value=255), min_size=0, max_size=6),
    cs=st.sampled_from(["C420", "C420jpeg", "C420mpeg2", "C444"]),
)
@FAST
def test_y4m_roundtrip_property(w2, h2, fps, lumas, cs):
    """encode_y4m ∘ decode_y4m round-trips geometry, rate, colorspace
    and every Y plane for any even geometry / any frame count."""
    from football_data_pipeline_spark.operators.video import (
        decode_y4m,
        encode_y4m,
        try_decode_y4m,
    )

    w, h = w2 * 2, h2 * 2  # C420 needs even dims
    frames = [bytes([l]) * (w * h) for l in lumas]
    clip = encode_y4m(w, h, fps, frames, colorspace=cs)
    gw, gh, fn, fd, gcs, got = decode_y4m(clip)
    assert (gw, gh, fn, fd, gcs) == (w, h, fps, 1, cs)
    assert got == frames
    # any strict prefix that cuts into the frame planes fails safely
    if frames:
        assert try_decode_y4m(clip[: len(clip) - 1]) is None


@given(
    amp=st.integers(min_value=1, max_value=32767),
    n_half=st.integers(min_value=2, max_value=64),
)
@FAST
def test_square_wave_stats_closed_form(spark, amp, n_half):
    """audio_stats on a ±amp square wave reproduces the closed forms
    the q_audio_stats oracle relies on: rms == amp exactly, zcr ==
    (n/HALF - 1)/(n - 1), clipping iff amp is full scale."""
    import numpy as np

    from football_data_pipeline_spark.operators.audio import (
        CLIP_LEVEL,
        TONE_HALF_PERIOD,
        audio_stats,
        encode_wav,
    )

    n = n_half * 2 * TONE_HALF_PERIOD
    t = np.arange(n)
    s = np.where((t // TONE_HALF_PERIOD) % 2 == 0, amp, -amp).astype("<i2")
    df = spark.createDataFrame(
        [(1, encode_wav(8000, 1, s.tobytes()))], "asset_id long, payload binary"
    )
    [row] = audio_stats(df).collect()
    assert row.rms == amp
    assert abs(row.zcr - (n / TONE_HALF_PERIOD - 1) / (n - 1)) < 1e-6
    assert row.clip_ratio == (1.0 if amp >= CLIP_LEVEL else 0.0)


def test_connected_components_path_graph_converges_early(spark):
    """A 13-node path (diameter 12) — the worst propagation shape
    for its size — must converge well inside pointer-jumping's
    O(log d) bound AND under the r13 label-sum convergence probe
    (sum unchanged ⇔ no label changed; labels only ever decrease).
    Pins the probe against the regression where a wrong early-exit
    would freeze labels mid-propagation: every node must reach the
    global min label, not a local one."""
    from football_data_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: (r.component, r.component_size) for r in
           connected_components(pairs, max_iter=8).collect()}
    assert got == {i: (0, 13) for i in range(13)}



def test_connected_components_counts_the_confirming_round(spark):
    """max_iter counts the round that CONFIRMS convergence, which the
    consecutive-propagate probe can reach one round after the labels
    settle — the reason the default is 26, not 25. This 8-node path's
    id order defeats pointer jumping (found by exhaustive search over
    orders), so it needs all 8 rounds: it converges at max_iter=8 and
    raises at 7."""
    import pytest as _pytest

    from football_data_pipeline_spark.operators.dedup import connected_components

    path = [0, 3, 2, 5, 6, 4, 1, 7]
    pairs = spark.createDataFrame(
        list(zip(path, path[1:])), "doc_a long, doc_b long"
    )
    got = {r.doc_id: (r.component, r.component_size) for r in
           connected_components(pairs, max_iter=8).collect()}
    assert got == {i: (0, 8) for i in range(8)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=7)
