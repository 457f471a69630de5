"""Winnowing substring pass: guarantee + exact verification."""

import numpy as np
import pytest

from sketch_spark.operators import suffix


def _pin(df):
    # substring_pairs' persist hook for its fingerprint cache
    return df.persist()


def test_rolling_hash_matches_naive():
    s = "abcdefghabcdefgh" * 4
    k = 5
    h = suffix._kgram_hashes(s, k)
    for i in [0, 1, 7, len(s) - k]:
        v = np.uint64(0)
        with np.errstate(over="ignore"):
            for c in s[i : i + k]:
                v = v * suffix._B + np.uint64(ord(c))
        assert h[i] == v
    # identical k-grams collide
    assert h[0] == h[8]


def test_window_argmin_matches_naive():
    """O(n) block-decomposition sliding argmin == naive leftmost argmin,
    including heavy ties (value range 0..4 forces repeated minima) and
    window/block boundary interactions."""
    rng = np.random.default_rng(3)

    def shapes():
        for _ in range(300):
            yield int(rng.integers(1, 1500)), int(rng.integers(1, 200))
        # many distinct sizes at the production window (w = L - k + 1)
        for n in rng.integers(151, 60_000, size=100):
            yield int(n), 151

    for n, w in shapes():
        if n - w + 1 <= 0:
            continue
        v = rng.integers(0, 5, size=n).astype(np.uint64)
        got = suffix.window_argmin(v, w)
        win = np.lib.stride_tricks.sliding_window_view(v, w)
        want = np.argmin(win, axis=1) + np.arange(win.shape[0])
        assert np.array_equal(got, want), (n, w)
        # slab path: tiny slabs force many overlapping segments
        got_slab = suffix.window_argmin(v, w, slab_blocks=2)
        assert np.array_equal(got_slab, want), (n, w, "slab")


def test_kgram_hashes_chunked_equals_one_pass():
    rng = np.random.default_rng(13)
    a = rng.integers(1, 2**20, size=50_000).astype(np.uint64)
    for k in (3, 50):
        one = suffix._kgram_hashes_seg(a, k)
        chunked = suffix._kgram_hashes_codes(a, k, chunk=777)
        assert np.array_equal(one, chunked)


def test_kernel_peak_memory_is_output_plus_slab():
    """The slab loop of window_argmin and the chunk loop of
    _kgram_hashes_codes bound each call's peak: on 3M elements with small
    slabs/chunks, traced numpy allocations stay within the output array
    plus a few MB, and nothing outlives the call."""
    import tracemalloc

    rng = np.random.default_rng(21)
    n = 3_000_000
    v = rng.integers(0, 1 << 62, size=n).astype(np.uint64)
    codes = rng.integers(32, 1 << 16, size=n).astype(np.uint32)
    slack = 4 << 20
    for name, call, out_bytes in (
        ("window_argmin", lambda: suffix.window_argmin(v, 151, slab_blocks=16),
         (n - 150) * 8),
        ("kgram", lambda: suffix._kgram_hashes_codes(codes, 50, chunk=1 << 16),
         (n - 49) * 8),
    ):
        tracemalloc.start()
        try:
            out = call()
            assert out.nbytes == out_bytes
            del out
            current, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak <= out_bytes + slack, (name, peak, out_bytes)
        assert current < slack, (name, current)


def test_winnow_batch_equals_per_text():
    """The batched (concatenated) winnowing pass selects the same
    (pos, hash) fingerprints as an isolated per-text pass."""
    rng = np.random.default_rng(11)
    texts = [
        "".join(chr(97 + int(rng.integers(0, 26))) for _ in range(int(rng.integers(10, 900))))
        for _ in range(20)
    ]
    k, L = 10, 40
    w = L - k + 1
    codes = [
        np.frombuffer(t.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
        for t in texts
    ]
    lens = np.fromiter((c.size for c in codes), dtype=np.int64)
    allh = suffix._kgram_hashes_codes(np.concatenate(codes), k)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    wam = suffix.window_argmin(allh, w)
    for t, st, ln in zip(texts, starts, lens):
        n = int(ln) - k + 1
        if n <= 0:
            continue
        h = suffix._kgram_hashes(t, k)
        assert np.array_equal(h, allh[st : st + n])
        if n <= w:
            sel_batch = np.array([int(np.argmin(allh[st : st + n]))])
            sel_solo = np.array([int(np.argmin(h))])
        else:
            sel_batch = np.unique(wam[st : st + n - w + 1]) - st
            win = np.lib.stride_tricks.sliding_window_view(h, w)
            sel_solo = np.unique(np.argmin(win, axis=1) + np.arange(win.shape[0]))
        assert np.array_equal(sel_batch, sel_solo)


def test_witness_spans_matches_char_loops():
    """Vectorized span extension == the per-character while-loops it
    replaced, across random segments with planted shared runs, boundary
    positions (pos 0 / end), identical full segments, and non-ASCII."""

    def naive(sa, sb, pa, pb):
        na, nb = len(sa), len(sb)
        l = 0
        while pa - l - 1 >= 0 and pb - l - 1 >= 0 and sa[pa - l - 1] == sb[pb - l - 1]:
            l += 1
        r = 0
        while pa + r < na and pb + r < nb and sa[pa + r] == sb[pb + r]:
            r += 1
        return l + r

    rng = np.random.default_rng(7)
    alphabet = "abωc"
    flat = []
    for _ in range(500):
        na = int(rng.integers(1, 120))
        nb = int(rng.integers(1, 120))
        sa = "".join(rng.choice(list(alphabet), size=na))
        sb = "".join(rng.choice(list(alphabet), size=nb))
        pa = int(rng.integers(0, na))
        pb = int(rng.integers(0, nb))
        # half the time plant a shared run around (pa, pb)
        if rng.random() < 0.5:
            run = "".join(rng.choice(list("xyζ"), size=int(rng.integers(1, 40))))
            off = int(rng.integers(0, len(run)))
            sa = sa[:pa] + run[off:] + sa[pa:]
            sb = sb[:pb] + run[off:] + sb[pb:]
        flat.append((len(flat), sa, sb, pa, pb))
    # identical-full-segment edge (argmax all-True row)
    flat.append((len(flat), "same" * 20, "same" * 20, 0, 0))
    flat.append((len(flat), "same" * 20, "same" * 20, 37, 37))
    got = suffix._witness_spans(flat, chunk=64)
    for (i, sa, sb, pa, pb), g in zip(flat, got):
        assert int(g) == naive(sa, sb, pa, pb), (i, sa, sb, pa, pb)


def test_substring_pairs_detects_long_span(spark):
    span = "S" + " shared token stream " * 15  # ~300 chars
    rng = np.random.default_rng(5)

    def noise(n):
        return " ".join(f"w{rng.integers(0, 999):03d}" for _ in range(n))

    rows = [
        ("p1", noise(40) + span + noise(40)),
        ("p2", noise(60) + span + noise(10)),
        ("q1", noise(120)),
        ("q2", noise(120)),
    ]
    conv = spark.createDataFrame(rows, "conv_id string, full_text string")
    pairs = suffix.substring_pairs(conv, L=200, k=50, pin=_pin)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert ("p1", "p2") in got or ("p2", "p1") in got
    assert not any({a, b} <= {"q1", "q2"} for a, b in got)


def test_substring_pairs_non_ascii_alignment(spark):
    """Fingerprint positions are CHARACTER offsets; multi-byte text before
    the shared span must not misalign the verify windows (positions were
    byte offsets into UTF-8 before this test's bug class was fixed)."""
    span = "τhe shared ünïcode span — " * 12  # ~300 chars, multi-byte
    rng = np.random.default_rng(9)

    def noise(n, salt):
        return " ".join(f"ωord{salt}{rng.integers(0, 999):03d}" for _ in range(n))

    rows = [
        ("u1", noise(40, "α") + span + noise(40, "β")),
        ("u2", noise(60, "γ") + span + noise(10, "δ")),
        ("u3", noise(120, "ε")),
    ]
    conv = spark.createDataFrame(rows, "conv_id string, full_text string")
    pairs = suffix.substring_pairs(conv, L=200, k=50, pin=_pin)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert ("u1", "u2") in got
    assert not any("u3" in p for p in got)


def test_substring_pairs_span_threshold(spark):
    # shared span below L must NOT pair
    span = "only eighty characters of shared content here padding pad pad!!"[:80]
    rows = [
        ("a", "A" * 300 + span + "B" * 300),
        ("b", "C" * 300 + span + "D" * 300),
    ]
    conv = spark.createDataFrame(rows, "conv_id string, full_text string")
    pairs = suffix.substring_pairs(conv, L=200, k=50, pin=_pin)
    assert pairs.count() == 0


def test_substring_hot_bucket_routing_bit_identical(spark):
    """Fingerprint buckets routed through the window-rank hot path must
    produce byte-identical (pair, witnesses) rows vs the array path."""
    import random

    from sketch_spark.operators.suffix import substring_candidate_pairs

    rng = random.Random(5)
    rows = []
    ids = [f"d{i:04d}" for i in range(300)]
    for i in range(280):  # hot fp bucket (multiple pos per conv for some)
        rows.append((ids[i], 777, i % 11))
        if i % 7 == 0:
            rows.append((ids[i], 777, 50 + i % 5))
    for i in range(260, 300):  # cold bucket
        rows.append((ids[i], 888, i % 3))
    rng.shuffle(rows)
    fps = spark.createDataFrame(rows, "conv_id string, fp long, pos int")
    cold = substring_candidate_pairs(fps, cap=8, hot_threshold=10**6)
    routed = substring_candidate_pairs(fps, cap=8, hot_threshold=64)
    c = {(r.a, r.b, tuple((w.pos_a, w.pos_b) for w in r.witnesses)) for r in cold.collect()}
    h = {(r.a, r.b, tuple((w.pos_a, w.pos_b) for w in r.witnesses)) for r in routed.collect()}
    assert c == h and len(c) > 0


def test_winnow_char_group_split_bit_identical(spark, monkeypatch):
    """Forcing the in-batch char bound to bind (tiny MAX_BATCH_CHARS) must
    not change the selected fingerprints: winnowing is per-text
    content-local, so group geometry is invisible in the output."""
    import random

    from sketch_spark.operators import suffix as S

    rng = random.Random(5)
    rows = [
        (f"c{i}", "".join(rng.choice("abcdef ") for _ in range(rng.randint(50, 900))))
        for i in range(60)
    ]
    conv = spark.createDataFrame(rows, "conv_id string, full_text string").coalesce(2)
    base = sorted(
        (r.conv_id, r.fp, r.pos)
        for r in S.winnow_fingerprints(conv, "full_text", "conv_id", 120, 30).collect()
    )
    monkeypatch.setattr(S, "MAX_BATCH_CHARS", 700)  # ~1-2 texts per group
    split = sorted(
        (r.conv_id, r.fp, r.pos)
        for r in S.winnow_fingerprints(conv, "full_text", "conv_id", 120, 30).collect()
    )
    assert base == split and len(base) > 0


def test_winnow_single_long_chunked_bit_identical():
    """A text over MAX_BATCH_CHARS takes the chunked single-text path;
    k-gram hashes are content-local and window_argmin is leftmost (purely
    window-content-determined), so the chunked selection must equal the
    whole-text group kernel's exactly — positions AND values — including
    on repetitive text full of equal-hash ties."""
    rng = np.random.default_rng(5)
    base = "".join(rng.choice(list("abcdefg "), size=200_000).tolist())
    # planted repeat so long duplicate spans cross chunk boundaries
    text = base[:50_000] + base[:30_000] + base[50_000:]
    k, L = suffix.DEFAULT_K, suffix.DEFAULT_L
    w = L - k + 1
    ref = suffix._winnow_group([("x", text)], "conv_id", k, w)
    old = suffix.MAX_BATCH_CHARS
    try:
        suffix.MAX_BATCH_CHARS = 37_111  # force many chunks + readahead
        got = suffix._winnow_single_long("x", text, "conv_id", k, w)
    finally:
        suffix.MAX_BATCH_CHARS = old
    assert sorted(zip(ref["pos"], ref["fp"])) == sorted(
        zip(got["pos"], got["fp"])
    )
    assert len(got) == len(set(got["pos"]))  # unique like np.unique


def test_winnow_group_vectorized_matches_reference():
    """The vectorized group selection (global masked unique + searchsorted)
    must match a direct per-text reference winnow, including short texts
    (single evaluated window), texts below k, and empty strings."""
    import numpy as np
    import random

    from sketch_spark.operators.suffix import (
        _winnow_group, _kgram_hashes_codes,
    )

    k, w = 5, 12
    rng = random.Random(9)
    texts = []
    for i in range(40):
        n = rng.choice([0, 2, 4, k - 1, k, k + 3, w + k - 2, w + k - 1, 60, 300])
        texts.append((f"c{i}", "".join(rng.choice("abcdef") for _ in range(n))))
    out = _winnow_group(texts, "conv_id", k, w)
    got = set(zip(out["conv_id"], out["fp"], out["pos"]))

    expect = set()
    for cid, t in texts:
        codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
        n = codes.size - k + 1
        if n <= 0:
            continue
        h = _kgram_hashes_codes(codes, k)
        sel = set()
        for ws in range(max(n - w + 1, 1)):
            span = h[ws : ws + w] if n > w else h[:n]
            sel.add(ws + int(np.argmin(span)))
        for p in sel:
            expect.add((cid, int(np.int64(h[p])), p))
    assert got == expect
