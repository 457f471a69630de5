"""Exact long-shared-substring pass (winnowing fingerprints).

Catches duplicate pairs MinHash misses: two otherwise-unrelated conversations
sharing one verbatim span >= L chars (FIXTURES.md family
"long-shared-substring").  Not in the reference (SURVEY.md intro); from the
dedup literature: Schleimer/Wilkerson/Aiken winnowing (SIGMOD'03).

Guarantee: with k-gram rolling hashes and a winnowing window of
w = L - k + 1, any shared substring of length >= L contributes at least one
common selected fingerprint.  So fingerprint equi-join ⊇ all true pairs;
an exact extension check around the matched positions removes false
positives (rolling-hash collisions or sub-L repeats).

Spark shape:
  conv(full_text) -> mapInPandas (numpy rolling hash + sliding-window argmin)
  -> (conv_id, fp, pos) -> self-equi-join on fp (the shuffle IS the index)
  -> groupBy pair, keep witness positions -> exact verify via pandas UDF
  over the two texts (bounded O(L) extension around the witness).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .routing import capped_bucket_pairs

DEFAULT_L = 200  # minimum shared-substring length to detect
DEFAULT_K = 50  # k-gram size for rolling hashes

_B = np.uint64(1000003)

# ---------------------------------------------------------------------------
# Per-WORKER buffer arena (VERDICT r3 next-round #4).  Each Spark task runs
# in a reused Python worker process; the kernels below used to allocate
# dozens of MB-scale numpy temporaries per task, which glibc serves via
# mmap/munmap above the 128 KB threshold — every task re-faulted fresh pages
# on this host's ~200 MB/s page-population path (BENCH/BASELINE.md §3b), the
# measured cause of the substr stage's 32-core inversion.  The arena keeps
# one named buffer per (role, shape, dtype) alive for the worker's lifetime;
# kernel shapes are constant across tasks (fixed slab geometry, padded
# tails), so after the first task every temporary is a warm-page reuse.
# Workers are single-threaded (one task at a time per process), so a
# module-level dict needs no locking.  All outputs that escape a kernel are
# freshly allocated or caller-provided; only internal temporaries live here.
# ---------------------------------------------------------------------------

_ARENA: dict = {}


def _buf(name: str, shape: tuple, dtype) -> np.ndarray:
    """Named reusable buffer of an exact shape (uninitialized contents)."""
    key = (name, shape, np.dtype(dtype).str)
    a = _ARENA.get(key)
    if a is None:
        a = np.empty(shape, dtype=dtype)
        _ARENA[key] = a
    return a


def _cap_buf(name: str, n: int, dtype) -> np.ndarray:
    """Grow-only 1-D buffer; returns a length-n view."""
    key = (name, np.dtype(dtype).str)
    a = _ARENA.get(key)
    if a is None or a.size < n:
        cap = max(n, (a.size * 2) if a is not None else 0, 1 << 16)
        a = np.empty(cap, dtype=dtype)
        _ARENA[key] = a
    return a[:n]


def _pow_series(name: str, base: np.uint64, n: int) -> np.ndarray:
    """First n powers base^0..base^(n-1) mod 2^64, cached grow-only."""
    key = (name, "pow")
    a = _ARENA.get(key)
    have = a.size if a is not None else 0
    if have < n:
        cap = max(n, have * 2, 1 << 16)
        new = np.empty(cap, dtype=np.uint64)
        with np.errstate(over="ignore"):
            if have == 0:
                new[0] = np.uint64(1)
                start = 1
            else:
                new[:have] = a
                start = have
            ext = np.full(cap - start, base, dtype=np.uint64)
            np.cumprod(ext, out=ext)
            np.multiply(ext, new[start - 1], out=ext)
            new[start:] = ext
        a = new
        _ARENA[key] = a
    return a[:n]


def _arange(n: int) -> np.ndarray:
    """First n of a cached int64 arange (read-only by convention)."""
    key = ("arange", "i8")
    a = _ARENA.get(key)
    if a is None or a.size < n:
        a = np.arange(max(n, 1 << 16), dtype=np.int64)
        _ARENA[key] = a
    return a[:n]


# B is odd, hence invertible mod 2^64; Newton iteration for the inverse.
def _inv_u64(b: np.uint64) -> np.uint64:
    x = np.uint64(1)
    with np.errstate(over="ignore"):
        for _ in range(6):
            x = x * (np.uint64(2) - b * x)
    return x


_BINV = _inv_u64(_B)


def _kgram_hashes_codes(
    a: np.ndarray, k: int, chunk: int = 1 << 22, out: np.ndarray | None = None
) -> np.ndarray:
    """Rolling k-gram hashes, computed in overlapping chunks so peak
    temporary footprint stays ~100 MB regardless of input size.  The hash
    of a k-gram depends only on its CONTENT (see _kgram_hashes_seg), so a
    chunk overlapping the next by k-1 codes yields identical values —
    important on hosts where faulting fresh pages is far slower than
    reusing warm ones (measured ~200 MB/s vs ~5 GB/s here).  All internal
    temporaries come from the per-worker arena; `out` (optional) receives
    the hashes in place so the hot caller allocates nothing per batch."""
    n = a.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    res = out[:n] if out is not None else np.empty(n, dtype=np.uint64)
    s = 0
    while s < n:
        e = min(a.size, s + chunk + k - 1)
        cnt = min(chunk, n - s)
        _kgram_hashes_seg(a[s:e], k, out=res[s : s + cnt])
        s += chunk
    return res


def _kgram_hashes_seg(
    a: np.ndarray, k: int, out: np.ndarray | None = None
) -> np.ndarray:
    """Rolling polynomial hashes (mod 2^64) of all k-grams of a codepoint
    array, fully vectorized:  H[i] = B^(k-1) * B^i * (P[i+k] - P[i])  where
    P[t] = sum_{j<t} a[j] * Binv^j  (B odd => invertible mod 2^64).
    H[i] depends only on a[i:i+k] (the B^i cancels the Binv^i inside the
    prefix difference), so hashes computed over a CONCATENATION of many
    texts are identical to per-text hashes at the corresponding offsets —
    what lets winnow_fingerprints run ONE pass per Arrow batch.
    Power series are cached (deterministic); prefix/product temporaries are
    arena buffers reused across tasks."""
    n = a.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        if a.dtype != np.uint64:
            # cast into a reused buffer (C-style wrap, same as .astype)
            ac = _cap_buf("kg_cast", a.size, np.uint64)
            np.copyto(ac, a, casting="unsafe")
            a = ac
        binv_pows = _pow_series("binv_pows", _BINV, a.size)
        b_pows = _pow_series("b_pows", _B, n)
        tmp = _cap_buf("kg_tmp", a.size, np.uint64)
        np.multiply(a, binv_pows, out=tmp)
        prefix = _cap_buf("kg_prefix", a.size + 1, np.uint64)
        prefix[0] = np.uint64(0)
        np.cumsum(tmp, out=prefix[1:])
        res = out[:n] if out is not None else np.empty(n, dtype=np.uint64)
        np.subtract(prefix[k : k + n], prefix[:n], out=res)
        np.multiply(res, b_pows, out=res)
        res *= np.uint64(pow(int(_B), k - 1, 1 << 64))
    return res


def _kgram_hashes(s: str, k: int) -> np.ndarray:
    """Rolling k-gram hashes of one string, over Unicode CODE POINTS
    (utf-32 units), not UTF-8 bytes — fingerprint positions are character
    indices, the same unit Spark's `substring` and Python string indexing
    use.  (Byte positions would misalign the verify stage's witness windows
    on any non-ASCII text.)"""
    codes = np.frombuffer(s.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    return _kgram_hashes_codes(codes, k)


def window_argmin(
    v: np.ndarray, w: int, slab_blocks: int = 2048,
    out: np.ndarray | None = None,
) -> np.ndarray:
    """Leftmost argmin of every w-window of v in O(n), computed in slabs.

    Each slab covers slab_blocks w-sized blocks plus a w-1 overlap: a
    window's argmin depends only on the w values it covers, so running the
    block kernel on the overlapping segment and keeping the first
    slab_blocks*w window starts reproduces the global answer exactly.  The
    final partial slab is padded (with the dtype-max sentinel, into a
    reused buffer) to the full slab geometry, so every kernel invocation
    sees IDENTICAL shapes and every temporary is a per-worker arena buffer
    reused across slabs AND across tasks — fresh-page population on this
    host runs ~20x slower than warm reuse (BENCH/BASELINE.md §3b); the
    earlier per-call allocations were the measured term behind the substr
    stage's 32-core inversion.  Padding is correct because kept windows
    never read padded positions (the last kept window ends at the last
    real element) and ties against the sentinel cannot arise inside them.

    `out` (optional, int64, size >= n-w+1) receives the result in place.
    Returns absolute indices into v; output size n - w + 1."""
    if not np.issubdtype(v.dtype, np.integer):
        raise TypeError(f"window_argmin requires an integer dtype, got {v.dtype}")
    n = v.size
    nw = n - w + 1
    if nw <= 0:
        return np.empty(0, dtype=np.int64)
    S = slab_blocks * w
    if n <= S + w - 1:
        res = out[:nw] if out is not None else np.empty(nw, dtype=np.int64)
        _window_argmin_seg(v, w, out=res)
        return res
    res = out[:nw] if out is not None else np.empty(nw, dtype=np.int64)
    INF = np.iinfo(v.dtype).max
    seg_len = S + w - 1
    s = 0
    while s < nw:
        e = min(n, s + seg_len)
        take = min(S, nw - s)
        if e - s == seg_len:
            seg_view = v[s:e]
        else:
            pad = _buf("wam_padseg", (seg_len,), v.dtype)
            pad[: e - s] = v[s:e]
            pad[e - s :] = INF
            seg_view = pad
        part = res[s : s + take]
        _window_argmin_seg(seg_view, w, out=part, n_keep=take,
                           exact_geometry=True)
        part += s
        s += S
    return res


def _window_argmin_seg(
    v: np.ndarray, w: int, out: np.ndarray | None = None,
    n_keep: int | None = None, exact_geometry: bool = False,
) -> np.ndarray:
    """One-segment two-pass block decomposition (the sliding-window-minimum
    prefix/suffix trick): split v into w-sized blocks, compute per-block
    prefix and suffix argmins with vectorized scans, and stitch window i
    from the suffix of its left block and the prefix of its right block.
    Bit-identical to np.argmin(sliding_window_view(v, w), axis=1) + arange
    (property-tested with heavy ties) but ~80x faster at w=151: the naive
    form is O(n*w) comparisons and dominated the whole pipeline's CPU.

    Every temporary is an arena buffer keyed by (nblocks, w, dtype) — the
    slab driver always presents the same geometry, so across tasks in one
    worker this kernel allocates nothing.  `out`/`n_keep`: write only the
    first n_keep window results into out (the slab driver's kept prefix).
    """
    n = v.size
    nw = n - w + 1
    nblocks = -(-n // w)
    # sentinel = dtype max (ADVICE r2: was a hard-coded uint64 constant that
    # overflowed np.full for signed inputs).  Correctness with max instead of
    # +inf: padding can only tie a real element, never beat it, and both
    # scans break ties toward the leftmost (real) position; the prev-row
    # sentinel only needs "nothing is strictly smaller before index 0",
    # which max satisfies together with the explicit is_new[:, 0] = True.
    INF = np.iinfo(v.dtype).max
    # Arena buffers are keyed by exact shape, so data-dependent nblocks
    # (direct calls with small inputs: winnow group tails, small batches)
    # would grow one never-freed buffer set PER DISTINCT SIZE on a
    # long-lived worker.  Rounding nblocks up to a power of two bounds the
    # arena to O(log) geometries; extra rows are all-sentinel and every
    # scan is row-independent, so kept outputs are bit-identical
    # (property-tested).  The slab driver passes exact_geometry=True — its
    # segment shape is already constant across slabs and tasks, and pow2
    # rounding there would double the hot path's footprint.
    if not exact_geometry and nblocks > 1:
        nblocks = 1 << (nblocks - 1).bit_length()
    shp = (nblocks, w)
    dt = v.dtype
    vp = _buf("was_vp", shp, dt)
    vpf = vp.reshape(-1)
    vpf[:n] = v
    vpf[n:] = INF
    col = np.broadcast_to(_arange(w), shp)

    # prefix argmin (leftmost: new argmin only on strict decrease)
    pmin = _buf("was_pmin", shp, dt)
    np.minimum.accumulate(vp, axis=1, out=pmin)
    prev = _buf("was_prev", shp, dt)
    prev[:, 0] = INF
    prev[:, 1:] = pmin[:, :-1]
    notnew = _buf("was_notnew", shp, np.bool_)
    np.greater_equal(vp, prev, out=notnew)  # NOT (vp < prev)
    cand = _buf("was_cand", shp, np.int64)
    np.copyto(cand, col)
    cand[notnew] = -1
    cand[:, 0] = 0  # is_new[:, 0] = True
    pam = _buf("was_pam", shp, np.int64)
    np.maximum.accumulate(cand, axis=1, out=pam)

    # suffix argmin (leftmost among minima: reversed scan updating on <=,
    # so earlier-in-original wins ties); pmin/prev buffers are dead here
    # and reused for the reversed scans
    vr = vp[:, ::-1]
    rmin = pmin
    np.minimum.accumulate(vr, axis=1, out=rmin)
    prevr = prev
    prevr[:, 0] = INF
    prevr[:, 1:] = rmin[:, :-1]
    np.greater(vr, prevr, out=notnew)  # NOT (vr <= prevr)
    np.copyto(cand, col)
    cand[notnew] = -1
    cand[:, 0] = 0
    samr = _buf("was_samr", shp, np.int64)
    np.maximum.accumulate(cand, axis=1, out=samr)
    sam = _buf("was_sam", shp, np.int64)
    np.subtract(w - 1, samr[:, ::-1], out=sam)

    off = _arange(nblocks)[:, None] * w  # small (nblocks,1) temp
    np.add(pam, off, out=pam)
    np.add(sam, off, out=sam)
    flat_pam = pam.reshape(-1)
    flat_sam = sam.reshape(-1)
    vflat = vpf

    keep = nw if n_keep is None else n_keep
    # window starts are contiguous 0..nw-1, so the index gathers of the
    # original formulation are plain views: ia = flat_sam[:nw],
    # ib = flat_pam[w-1 : w-1+nw]
    ia = flat_sam[:keep]  # leftmost argmin of v[i .. end of i's block]
    ib = flat_pam[w - 1 : w - 1 + keep]  # leftmost argmin of block-start .. j
    va = _cap_buf("was_va", keep, dt)
    vb = _cap_buf("was_vb", keep, dt)
    np.take(vflat, ia, out=va)
    np.take(vflat, ib, out=vb)
    pick_a = _cap_buf("was_pick", keep, np.bool_)
    np.less_equal(va, vb, out=pick_a)
    # same-block windows (i//w == (i+w-1)//w) must take ia regardless
    np.logical_or(pick_a, _same_block(keep, w), out=pick_a)
    res = out[:keep] if out is not None else np.empty(keep, dtype=np.int64)
    np.copyto(res, ib)
    np.copyto(res, ia, where=pick_a)
    return res


def _same_block(nw: int, w: int) -> np.ndarray:
    """Cached boolean mask: window i lies entirely inside one w-block."""
    key = ("same_block", w)
    a = _ARENA.get(key)
    if a is None or a.size < nw:
        size = max(nw, 1 << 16)
        i = _arange(size)
        a = (i // w) == ((i + w - 1) // w)
        _ARENA[key] = a
    return a[:nw]


def winnow_fingerprints(
    conv: DataFrame,
    text_col: str = "full_text",
    id_col: str = "conv_id",
    L: int = DEFAULT_L,
    k: int = DEFAULT_K,
) -> DataFrame:
    """-> (conv_id, fp long, pos int): winnowed k-gram fingerprints.

    The rolling hash runs ONCE over the whole Arrow batch (texts
    concatenated; k-grams crossing text boundaries are simply never
    selected because each text only reads its own hash range) — the
    per-text numpy-call overhead used to dominate this stage's CPU.

    Worker-memory bound: the concat/hash/argmin slabs scale with the
    CHARS a kernel call sees (~24 B/char).  Arrow's 10k-row batch cap
    bounds that implicitly for ordinary conversations, but text volume —
    not row count — is the real resource, so each batch is additionally
    split into <= MAX_BATCH_CHARS groups before the concat (pure driver-
    side-free list slicing, no shuffle, selection unchanged: winnowing is
    per-text content-local).  Slab memory per worker is therefore
    constant in corpus AND conversation size — the property a 10^12-turn
    run with adversarially long conversations needs."""
    w = L - k + 1
    assert w >= 1

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            all_convs = [
                (cid, text)
                for cid, text in zip(pdf[id_col], pdf[text_col])
                if text is not None
            ]
            # char-bounded groups; a text that alone exceeds the bound
            # takes the chunked single-text path (kernel slabs stay
            # capped even for one adversarially long conversation)
            groups, cur, cur_chars = [], [], 0
            for item in all_convs:
                n = len(item[1])
                if n > MAX_BATCH_CHARS:
                    yield _winnow_single_long(item[0], item[1], id_col, k, w)
                    continue
                if cur and cur_chars + n > MAX_BATCH_CHARS:
                    groups.append(cur)
                    cur, cur_chars = [], 0
                cur.append(item)
                cur_chars += n
            if cur:
                groups.append(cur)
            for convs in groups:
                yield _winnow_group(convs, id_col, k, w)

    id_type = conv.schema[id_col].dataType.simpleString()
    return conv.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        gen, schema=f"{id_col} {id_type}, fp long, pos int"
    )


# Upper bound on text volume per winnowing kernel call (~24 B/char of
# slabs => ~800 MB per worker at the bound).  Above the bench/campaign
# batch sizes (10k rows x ~3k chars ~ 30M), so measured walls are
# unaffected; it exists for corpora whose per-batch text volume explodes.
MAX_BATCH_CHARS = 32_000_000


def _winnow_group(convs: list, id_col: str, k: int, w: int) -> pd.DataFrame:
    ids = fps = poss = ()
    if convs:
        codes = [
            np.frombuffer(
                t.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
            )
            for _, t in convs
        ]
        lens = np.fromiter((c.size for c in codes), dtype=np.int64)
        total = int(lens.sum())
        # group concat + hash + winnow all land in per-worker arena
        # buffers: these are the largest per-group arrays (tens of
        # MB), reallocated per batch before — pure page-population
        # tax on this host (see _ARENA note)
        cat = _cap_buf("wf_codes", total, np.uint32)
        o = 0
        for c in codes:
            cat[o : o + c.size] = c
            o += c.size
        allh = _kgram_hashes_codes(
            cat, k, out=_cap_buf("wf_allh", max(total - k + 1, 1), np.uint64)
        )
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        # ONE O(n) window-argmin pass over the whole group: every
        # in-text window reads only in-text hash positions, so the
        # global pass selects exactly what per-text passes would
        # (boundary-mixed hashes sit outside every evaluated window).
        nwam = allh.size - w + 1
        wam = window_argmin(
            allh, w,
            out=_cap_buf("wf_wam", max(nwam, 1), np.int64)
            if nwam > 0 else None,
        )
        # Selection is fully vectorized across the group (the per-conv
        # np.unique + .tolist() loop was ~40% of warm kernel CPU at bench
        # scale): texts own DISJOINT global position ranges, so one global
        # np.unique over the masked wam equals the per-text uniques, and
        # np.searchsorted(starts) maps each selected position back to its
        # text.  Value- and multiplicity-identical to the loop (asserted
        # in tests/test_suffix.py).
        mask = _cap_buf("wf_mask", max(nwam, 1), np.bool_)
        mask[:nwam] = False
        short_sel = []
        for (_, _), st, ln in zip(convs, starts, lens):
            n = int(ln) - k + 1
            if n <= 0:
                continue
            st = int(st)
            if n <= w:
                # single evaluated window: leftmost argmin of the text's
                # own hash range (identical to window_argmin's tie rule)
                short_sel.append(st + int(np.argmin(allh[st : st + n])))
            else:
                mask[st : st + n - w + 1] = True
        parts = []
        if nwam > 0:
            parts.append(np.unique(wam[:nwam][mask[:nwam]]))
        if short_sel:
            parts.append(np.asarray(short_sel, dtype=np.int64))
        if parts:
            sel = np.sort(np.concatenate(parts)) if len(parts) > 1 else parts[0]
            ci = np.searchsorted(starts, sel, side="right") - 1
            cid_arr = np.empty(len(convs), dtype=object)
            for i, (cid, _) in enumerate(convs):
                cid_arr[i] = cid
            ids = cid_arr[ci]
            fps = allh[sel].astype(np.int64)
            poss = (sel - starts[ci]).astype(np.int64)
    return pd.DataFrame({id_col: ids, "fp": fps, "pos": poss})


def _winnow_single_long(cid, text: str, id_col: str, k: int, w: int) -> pd.DataFrame:
    """Chunked winnow for ONE text longer than MAX_BATCH_CHARS, so kernel
    slab memory stays capped even for an adversarially long conversation
    (previously such a text was processed whole, growing the grow-only
    arena to O(text) and pinning it for the worker's lifetime).

    Bit-identical to the unchunked pass: k-gram hashes are content-local
    (_kgram_hashes_seg) and window_argmin is the LEFTMOST argmin — purely
    window-content-determined — so evaluating each window start exactly
    once, in the chunk that owns it (with a w+k-2-char read-ahead for
    windows reaching past the owned range), selects exactly the positions
    the whole-text pass would.  Positions selected twice (a window in the
    owned range and one in the previous chunk's read-ahead pointing at the
    same minimum) are deduplicated like the whole-text np.unique.  Peak
    footprint: the input row's own string (unavoidable) + capped slabs.
    """
    n_chars = len(text)
    nk = n_chars - k + 1
    if nk <= 0:
        return pd.DataFrame({id_col: [], "fp": [], "pos": []})
    # window starts: nk - w + 1 of them (nk > w always holds here, since
    # n_chars > MAX_BATCH_CHARS >> w + k)
    nwin = nk - w + 1
    seen: set = set()
    fps_out: list = []
    step = MAX_BATCH_CHARS
    for ws in range(0, nwin, step):
        we = min(ws + step, nwin)
        # chars needed by windows [ws, we): hash positions up to we+w-2,
        # i.e. chars up to we+w-2 + k-1 (exclusive end we+w+k-2)
        ce = min(we + w + k - 2, n_chars)
        codes = np.frombuffer(
            text[ws:ce].encode("utf-32-le", "surrogatepass"), dtype=np.uint32
        )
        m = codes.size - k + 1
        allh = _kgram_hashes_codes(
            codes, k, out=_cap_buf("wfl_allh", m, np.uint64)
        )
        nw = m - w + 1
        wam = window_argmin(
            allh, w, out=_cap_buf("wfl_wam", max(nw, 1), np.int64)
        )
        for s_rel in np.unique(wam[: we - ws]).tolist():
            p = ws + int(s_rel)
            if p not in seen:
                seen.add(p)
                fps_out.append((p, int(np.int64(allh[s_rel]))))
    fps_out.sort()
    return pd.DataFrame(
        {
            id_col: [cid] * len(fps_out),
            "fp": [f for _, f in fps_out],
            "pos": [p for p, _ in fps_out],
        }
    )


def substring_candidate_pairs(
    fps: DataFrame, id_col: str = "conv_id", cap: int = 32,
    hot_threshold: int = 1_000_000, n_fps: int | None = None,
    pin=None,
) -> DataFrame:
    """fingerprints -> candidate pairs (a, b, witnesses) with coherent
    witness positions.

    Each fingerprint bucket emits its pairs through
    routing.capped_bucket_pairs with the positions as payload: members
    ranked by (xxhash64(id, fp), id, pos), the first `cap` as a clique,
    members beyond the cap linked to the bucket's rank-1 root (template
    conversations share every fingerprint — plain truncation would
    disconnect them).  (pos_a, pos_b) always come from the same fp bucket,
    so every witness pair marks the same matching k-gram; up to 8 sorted
    distinct witnesses are kept per pair.

    Tail links are subsampled: the first 8 members past the cap, then
    ~1-in-8 fingerprints per member (template convs share dozens of hot
    fingerprints; one verified root link connects a member, a handful
    gives redundancy — all of them is pure waste).  A conversation can
    hold one fp at several positions, so a == b rows are dropped.

    `hot_threshold` routes over-large fp buckets through the window-rank
    path (identical output); an fp bucket can never hold more rows than the
    whole table, so a known `n_fps` under the threshold skips the census.
    The caller persists fps so the census and both routes never re-run the
    winnowing kernel; `pin` is forwarded to the census.
    """
    def keep_tail(ti, mid):
        return (ti < 8) | (F.pmod(F.xxhash64(F.col("fp"), mid), F.lit(8)) == 0)

    pairs = capped_bucket_pairs(
        fps,
        ["fp"],
        id_col,
        cap,
        hot_threshold,
        n_rows=n_fps,
        pin=pin,
        payload=("pos",),
        keep_tail=keep_tail,
    )
    return pairs.groupBy("a", "b").agg(
        F.slice(
            F.array_sort(F.collect_set(F.struct("pos_a", "pos_b"))), 1, 8
        ).alias("witnesses")
    )


def _buf2(name: str, m: int, W: int, dtype) -> np.ndarray:
    """2-D view over a grow-only 1-D arena buffer (shape varies per call)."""
    return _cap_buf(name, m * W, dtype).reshape(m, W)


def _witness_spans(
    flat: list[tuple[int, str, str, int, int]], chunk: int = 4096
) -> np.ndarray:
    """Vectorized maximal-common-span length around each witness match.

    flat rows are (pair_idx, seg_a, seg_b, pos_a, pos_b); returns span[i] =
    l + r where l/r are the longest runs of equal characters extending
    left/right from the witness positions — exactly the per-character
    while-loops they replace, computed as chunked numpy gathers:
    segments are padded into (chunk, W) codepoint matrices with DISTINCT
    pad sentinels per side (padding never matches), the right run is the
    index of the first mismatch in the aligned gather A[pa+t] == B[pb+t],
    the left run likewise with reversed offsets, and explicit bounds masks
    reproduce the loops' boundary conditions."""
    n = len(flat)
    spans = np.zeros(n, dtype=np.int64)
    PAD_A = np.uint32(0xFFFFFFFF)
    PAD_B = np.uint32(0xFFFFFFFE)
    for lo in range(0, n, chunk):
        part = flat[lo : lo + chunk]
        m = len(part)
        la = np.fromiter((len(r[1]) for r in part), dtype=np.int64, count=m)
        lb = np.fromiter((len(r[2]) for r in part), dtype=np.int64, count=m)
        W = int(max(la.max(), lb.max(), 1))
        # all (m, W) temporaries are arena views (see _ARENA note): the
        # equality matrices here were ~50 MB of fresh allocations per chunk
        A = _buf2("ws_A", m, W, np.uint32)
        B = _buf2("ws_B", m, W, np.uint32)
        A[...] = PAD_A
        B[...] = PAD_B
        for i, (_, sa, sb, _, _) in enumerate(part):
            if sa:
                A[i, : len(sa)] = np.frombuffer(
                    sa.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
                )
            if sb:
                B[i, : len(sb)] = np.frombuffer(
                    sb.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
                )
        pa = np.fromiter((r[3] for r in part), dtype=np.int64, count=m)[:, None]
        pb = np.fromiter((r[4] for r in part), dtype=np.int64, count=m)[:, None]
        t = _arange(W)[None, :]
        rowoff = (_arange(m) * W)[:, None]  # flat-gather row offsets

        def _gather(mat, idx, name):
            g = _buf2(name, m, W, np.uint32)
            np.take(mat.reshape(-1), idx, out=g)
            return g

        idxa = _buf2("ws_idxa", m, W, np.int64)
        idxb = _buf2("ws_idxb", m, W, np.int64)
        mism = _buf2("ws_mism", m, W, np.bool_)
        bnd = _buf2("ws_bnd", m, W, np.bool_)

        # right extension: first t with A[pa+t] != B[pb+t] (or out of range)
        np.add(pa, t, out=idxa)
        np.minimum(idxa, W - 1, out=idxa)
        np.add(idxa, rowoff, out=idxa)
        np.add(pb, t, out=idxb)
        np.minimum(idxb, W - 1, out=idxb)
        np.add(idxb, rowoff, out=idxb)
        ga = _gather(A, idxa, "ws_ga")
        gb = _gather(B, idxb, "ws_gb")
        np.equal(ga, gb, out=mism)  # holds EQ for now
        np.less(t, la[:, None] - pa, out=bnd)  # pa + t < la
        np.logical_and(mism, bnd, out=mism)
        np.less(t, lb[:, None] - pb, out=bnd)  # pb + t < lb
        np.logical_and(mism, bnd, out=mism)
        # all-True row (both segments match through every in-bounds t, e.g.
        # identical full-width segments at pos 0): argmax(all-False) is 0,
        # but the loop semantics give the full in-bounds run
        full = mism.all(axis=1)
        np.logical_not(mism, out=mism)  # now holds first-mismatch indicator
        r_run = np.argmax(mism, axis=1)
        if full.any():
            r_run = np.where(
                full, np.minimum(la - pa.ravel(), lb - pb.ravel()), r_run
            )
        # left side always has a False within range (the bound fails at
        # t = pa <= W-1), so argmax is safe there
        # left extension: first t with A[pa-1-t] != B[pb-1-t] (or t >= pa/pb)
        np.subtract(pa - 1, t, out=idxa)
        np.maximum(idxa, 0, out=idxa)
        np.add(idxa, rowoff, out=idxa)
        np.subtract(pb - 1, t, out=idxb)
        np.maximum(idxb, 0, out=idxb)
        np.add(idxb, rowoff, out=idxb)
        ga = _gather(A, idxa, "ws_ga")
        gb = _gather(B, idxb, "ws_gb")
        np.equal(ga, gb, out=mism)
        np.less(t, pa, out=bnd)  # pa - 1 - t >= 0
        np.logical_and(mism, bnd, out=mism)
        np.less(t, pb, out=bnd)  # pb - 1 - t >= 0
        np.logical_and(mism, bnd, out=mism)
        np.logical_not(mism, out=mism)
        l_run = np.argmax(mism, axis=1)
        spans[lo : lo + m] = l_run + r_run
    return spans


def verify_substring_pairs(
    cands: DataFrame,
    conv: DataFrame,
    text_col: str = "full_text",
    id_col: str = "conv_id",
    L: int = DEFAULT_L,
) -> DataFrame:
    """Exact check: extend the fingerprint witness match to its maximal
    common span; keep pairs with span >= L.  Bounded work per pair.

    Byte discipline (VERDICT r2 #2): the earlier shape joined the FULL
    conversation text onto every candidate pair twice — O(pairs x |text|)
    through the exchange, the substr stage's dominant byte stream after
    winnowing.  Now the +/-L witness windows are cut from each text ONCE
    per distinct (id, pos) — the segment table join ships only
    ~(2L+64)-char segments to pair rows, never full texts, so per-pair
    exchange bytes are bounded by witnesses x segment length regardless of
    conversation size.  A segment of 2L+k suffices to certify span >= L:
    the witness k-gram always matches (r >= k), so
    min(l, L-1) + min(r, L+k) >= L whenever the true span is >= L."""
    seg = 2 * L + 64

    # explode witnesses, keeping their array position so the per-pair
    # early-break visit order (and thus the reported span value) is
    # byte-identical to the joined-arrays formulation.  The two text joins
    # are CHAINED (cands consumed exactly once — it holds the expensive
    # fingerprint-bucket aggregation in its lineage) and each join's
    # projection cuts the +/-L segment IMMEDIATELY, so the next exchange
    # ships ~(2L+64)-char segments, never full texts.
    w = cands.select("a", "b", F.posexplode("witnesses").alias("_wi", "_w")).select(
        "a",
        "b",
        "_wi",
        F.col("_w").getField("pos_a").alias("pos_a"),
        F.col("_w").getField("pos_b").alias("pos_b"),
    )

    def _cut(text: str, pos: str):
        start = F.greatest(F.col(pos) - (L - 1), F.lit(0))
        return (
            F.substring(F.col(text), start + 1, seg),
            F.col(pos) - start,
        )

    ca = conv.select(F.col(id_col).alias("a"), F.col(text_col).alias("_ta"))
    sg_a, rl_a = _cut("_ta", "pos_a")
    x1 = w.join(ca, "a").select(
        "a", "b", "_wi", "pos_b", sg_a.alias("_sg_a"), rl_a.alias("_rl_a")
    )
    cb = conv.select(F.col(id_col).alias("b"), F.col(text_col).alias("_tb"))
    sg_b, rl_b = _cut("_tb", "pos_b")
    x2 = x1.join(cb, "b").select(
        "a", "b", "_wi", "_sg_a", "_rl_a", sg_b.alias("_sg_b"), rl_b.alias("_rl_b")
    )
    grouped = x2.groupBy("a", "b").agg(
        F.array_sort(
            F.collect_list(F.struct("_wi", "_sg_a", "_sg_b", "_rl_a", "_rl_b"))
        ).alias("_ws")
    )
    joined = grouped.select(
        "a",
        "b",
        F.col("_ws").getField("_sg_a").alias("_sega"),
        F.col("_ws").getField("_sg_b").alias("_segb"),
        F.col("_ws").getField("_rl_a").alias("_rela"),
        F.col("_ws").getField("_rl_b").alias("_relb"),
    )

    @F.pandas_udf("int")
    def span_len(
        sega_s: pd.Series, segb_s: pd.Series, rela_s: pd.Series, relb_s: pd.Series
    ) -> pd.Series:
        # Flatten (pair, witness) -> rows, then extend every witness match
        # in ONE vectorized pass per chunk: per-character while-loops in
        # interpreted Python (~50-100 ns/char * up to 2L chars * millions
        # of witnesses) dominated the whole pipeline's CPU on large runs.
        flat: list[tuple[int, str, str, int, int]] = []
        for i, (segs_a, segs_b, rels_a, rels_b) in enumerate(
            zip(sega_s, segb_s, rela_s, relb_s)
        ):
            if segs_a is None or segs_b is None:
                continue
            for sa, sb, pa, pb in zip(segs_a, segs_b, rels_a, rels_b):
                flat.append((i, sa, sb, int(pa), int(pb)))
        out = np.zeros(len(sega_s), dtype=np.int32)
        if not flat:
            return pd.Series(out)
        spans = _witness_spans(flat)
        # replicate the original running-max-with-early-break per pair:
        # witnesses are visited in order and the loop stops at the first
        # running best >= L (identical output values, not just >= L set)
        row = 0
        while row < len(flat):
            i = flat[row][0]
            best = 0
            while row < len(flat) and flat[row][0] == i:
                if best < L:
                    best = max(best, int(spans[row]))
                row += 1
            out[i] = best
        return pd.Series(out)

    return (
        joined.withColumn("span", span_len("_sega", "_segb", "_rela", "_relb"))
        .where(F.col("span") >= L)
        .select("a", "b", "span")
    )


def _pretouch_kernels(n_chars: int, L: int = DEFAULT_L, k: int = DEFAULT_K) -> int:
    """Run the winnowing + witness kernels once on synthetic input of the
    given size INSIDE the current worker, so every named arena buffer is
    allocated and its pages are populated before real data arrives.

    Why this exists: on this host, faulting fresh anonymous pages runs
    ~20-50x slower than reusing warm ones (BENCH/BASELINE.md §3b), and the
    cost lands wherever the FIRST real task runs — measured as a stochastic
    10-130 s swing of the substr stage's first pass (BENCH/logs/
    substr_probe_*.out: winnow 9.5 s with warm worker arenas vs 63.4 s
    cold, identical code and input).  A long-running cluster pays this once
    per executor lifetime and never again; a benchmark that recreates the
    JVM + workers per run pays it inside the timed region unless the warmup
    populates the same pages first.  Running the real kernels (not plain
    np.empty) is the faithful pre-touch: it builds the exact (name, shape,
    dtype)-keyed buffers — including the chunked rolling-hash temporaries
    and the window-argmin slab set — that the real pass will request.
    """
    n_chars = max(int(n_chars), L + k)
    cat = _cap_buf("wf_codes", n_chars, np.uint32)
    cat[...] = np.uint32(97)
    cat[::7] += np.uint32(1)  # non-degenerate hashes; results are discarded
    w = L - k + 1
    allh = _kgram_hashes_codes(
        cat, k, out=_cap_buf("wf_allh", n_chars - k + 1, np.uint64)
    )
    nwam = allh.size - w + 1
    if nwam > 0:
        window_argmin(allh, w, out=_cap_buf("wf_wam", nwam, np.int64))
    seg = 2 * L + 64
    flat = [(i, "a" * seg, "a" * seg, L, L) for i in range(4096)]
    _witness_spans(flat)
    return sum(a.nbytes for a in _ARENA.values())


def pretouch_for(
    spark,
    transcripts_df,
    n_tasks: int,
    text_col: str = "text",
    margin: float = 1.6,
) -> int:
    """Size and run pretouch_arena for a transcript table — THE shared
    sizing policy (total_chars * margin / n_tasks, capped by the winnow
    in-batch char bound MAX_BATCH_CHARS, +1 KiB pad).  bench.py and
    BENCH/scaling.py both call this so the two harnesses cannot drift
    (they previously carried verbatim copies of the sizing block)."""
    from pyspark.sql import functions as _F

    total_chars = (
        transcripts_df.agg(_F.sum(_F.length(text_col))).collect()[0][0] or 0
    )
    per_task = min(
        int(total_chars * margin / n_tasks), int(MAX_BATCH_CHARS)
    ) + 1024
    return pretouch_arena(spark, n_tasks, per_task)


def pretouch_arena(
    spark, n_tasks: int, chars_per_task: int, L: int = DEFAULT_L, k: int = DEFAULT_K
) -> int:
    """Populate the per-worker kernel arenas across all Python workers.

    Schedules n_tasks trivial rows through mapInPandas; each task calls
    _pretouch_kernels sized to the text volume a real winnowing task will
    see (caller passes ~total_chars/n_partitions with margin).  Untimed-
    warmup use only — a real cluster's long-running executors amortize
    this to zero (see _pretouch_kernels).  Returns total arena bytes
    reported by the workers (sum over tasks; tasks on the same worker
    report the same arena)."""
    from pyspark.sql import functions as _F

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"touched": [_pretouch_kernels(chars_per_task, L, k)] * len(pdf)}
            )

    df = spark.range(n_tasks).repartition(n_tasks).mapInPandas(
        gen, schema="touched long"
    )
    return int(df.agg(_F.sum("touched")).collect()[0][0] or 0)


def substring_pairs(
    conv: DataFrame,
    text_col: str = "full_text",
    id_col: str = "conv_id",
    L: int = DEFAULT_L,
    k: int = DEFAULT_K,
    *,
    pin: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    # persist the fingerprints: the candidate stage's hot-bucket guard has
    # three consumers (census / cold / hot) and the winnowing kernel is the
    # pipeline's most expensive numpy stage — it must run exactly once.
    # `pin` (a persist hook, e.g. CheckpointManager.pin) scopes the block to
    # the caller, who releases it; concurrent pipelines in one session
    # never release each other's fingerprint cache.
    fps = pin(winnow_fingerprints(conv, text_col, id_col, L, k))
    n_fps = fps.count()  # materializes once; also powers the census skip
    cands = substring_candidate_pairs(fps, id_col, n_fps=n_fps, pin=pin)
    return verify_substring_pairs(cands, conv, text_col, id_col, L)
