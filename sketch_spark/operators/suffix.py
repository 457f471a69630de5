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

The numpy kernels are stateless: each call allocates plain temporaries
that are freed when it returns, and each states its per-call peak.  The
winnowing pass's bound is MAX_BATCH_CHARS of text per kernel call.
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


# B is odd, hence invertible mod 2^64; Newton iteration for the inverse.
def _inv_u64(b: np.uint64) -> np.uint64:
    x = np.uint64(1)
    with np.errstate(over="ignore"):
        for _ in range(6):
            x = x * (np.uint64(2) - b * x)
    return x


_BINV = _inv_u64(_B)


def _pows(base: np.uint64, n: int) -> np.ndarray:
    """base^0 .. base^(n-1) mod 2^64."""
    p = np.full(n, base, dtype=np.uint64)
    p[:1] = 1
    with np.errstate(over="ignore"):
        np.cumprod(p, out=p)
    return p


def _kgram_hashes_codes(a: np.ndarray, k: int, chunk: int = 1 << 22) -> np.ndarray:
    """Rolling k-gram hashes, computed in chunks that overlap the next by
    k-1 codes.  The hash of a k-gram depends only on its CONTENT (see
    _kgram_hashes_seg), so chunking changes no value.  Per-call peak: the
    uint64 output plus ~24 B x min(chunk, n) of chunk temporaries
    (~100 MB at the default chunk), whatever the input size."""
    n = a.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    res = np.empty(n, dtype=np.uint64)
    for s in range(0, n, chunk):
        res[s : s + chunk] = _kgram_hashes_seg(a[s : s + chunk + k - 1], k)
    return res


def _kgram_hashes_seg(a: np.ndarray, k: int) -> np.ndarray:
    """Rolling polynomial hashes (mod 2^64) of all k-grams of a codepoint
    array, fully vectorized:  H[i] = B^(k-1) * B^i * (P[i+k] - P[i])  where
    P[t] = sum_{j<t} a[j] * Binv^j  (B odd => invertible mod 2^64).
    H[i] depends only on a[i:i+k] (the B^i cancels the Binv^i inside the
    prefix difference), so hashes computed over a CONCATENATION of many
    texts are identical to per-text hashes at the corresponding offsets —
    what lets winnow_fingerprints run ONE pass per Arrow batch."""
    n = a.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = a.astype(np.uint64)  # a copy (C-style wrap): scanned in place
        x *= _pows(_BINV, a.size)
        np.cumsum(x, out=x)  # x[t] = P[t+1]
        res = x[k - 1 : k - 1 + n].copy()  # P[i+k]
        res[1:] -= x[: n - 1]  # - P[i], with P[0] = 0
        res *= _pows(_B, n)
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


def window_argmin(v: np.ndarray, w: int, slab_blocks: int = 2048) -> np.ndarray:
    """Leftmost argmin of every w-window of v in O(n), computed in slabs.

    Each slab covers slab_blocks w-sized blocks plus a w-1 overlap: a
    window's argmin depends only on the w values it covers, so running the
    block kernel on the overlapping segment reproduces the global answer
    for the slab's window starts exactly.  Per-call peak: the int64 output
    plus ~40 B x slab_blocks*w of slab temporaries (~12 MB at the default
    2048 blocks and w=151), whatever the input size.

    Returns absolute indices into v; output size n - w + 1."""
    if not np.issubdtype(v.dtype, np.integer):
        raise TypeError(f"window_argmin requires an integer dtype, got {v.dtype}")
    nw = v.size - w + 1
    if nw <= 0:
        return np.empty(0, dtype=np.int64)
    res = np.empty(nw, dtype=np.int64)
    S = slab_blocks * w
    for s in range(0, nw, S):
        np.add(_window_argmin_seg(v[s : s + S + w - 1], w), s, out=res[s : s + S])
    return res


def _window_argmin_seg(v: np.ndarray, w: int) -> np.ndarray:
    """One-segment two-pass block decomposition (the sliding-window-minimum
    prefix/suffix trick): split v into w-sized blocks, compute per-block
    prefix and suffix argmins with vectorized scans, and stitch window i
    from the suffix of its left block and the prefix of its right block.
    Bit-identical to np.argmin(sliding_window_view(v, w), axis=1) + arange
    (property-tested with heavy ties) but ~80x faster at w=151: the naive
    form is O(n*w) comparisons and dominated the whole pipeline's CPU.
    """
    n = v.size
    nw = n - w + 1
    nblocks = -(-n // w)
    # the last block is padded with the dtype max (signed or unsigned):
    # padding can only tie a real element, never beat it, and both scans
    # break ties toward the leftmost (real) position, so no kept window
    # ever selects it.
    vp = np.full(nblocks * w, np.iinfo(v.dtype).max, dtype=v.dtype)
    vp[:n] = v
    blocks = vp.reshape(nblocks, w)
    off = np.arange(0, nblocks * w, w)[:, None]
    # leftmost argmin of block-start .. j
    pam = (_running_argmin(blocks, strict=True) + off).reshape(-1)
    # leftmost argmin of i .. block-end: a reversed scan that moves on
    # ties, so the earlier-in-original position wins
    rev = _running_argmin(blocks[:, ::-1], strict=False)[:, ::-1]
    sam = (w - 1 - rev + off).reshape(-1)
    # window starts are contiguous 0..nw-1, so both gathers are views
    ia = sam[:nw]  # leftmost argmin of v[i .. end of i's block]
    ib = pam[w - 1 : w - 1 + nw]  # leftmost argmin of block-start .. i+w-1
    pick_a = vp[ia] <= vp[ib]
    pick_a[::w] = True  # window i = q*w lies in one block: ia covers it
    return np.where(pick_a, ia, ib)


def _running_argmin(x: np.ndarray, strict: bool) -> np.ndarray:
    """Per row of x, the column of the running minimum: it moves on a
    strict decrease (strict=True, so the first of equal minima is kept) or
    on any non-increase (strict=False, the last)."""
    m = np.minimum.accumulate(x, axis=1)
    moved = np.empty(x.shape, dtype=np.bool_)
    moved[:, 0] = True
    cmp = np.less if strict else np.less_equal
    cmp(x[:, 1:], m[:, :-1], out=moved[:, 1:])
    return np.maximum.accumulate(np.where(moved, np.arange(x.shape[1]), -1), axis=1)


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

    Worker-memory bound: a kernel call's temporaries scale with the CHARS
    it sees (~27 B/char, see MAX_BATCH_CHARS).  Arrow's 10k-row batch cap
    bounds that implicitly for ordinary conversations, but text volume —
    not row count — is the real resource, so each batch is additionally
    split into <= MAX_BATCH_CHARS groups before the concat (plain list
    slicing, no shuffle, selection unchanged: winnowing is per-text
    content-local), and a longer text takes _winnow_single_long.  Kernel
    memory per call is therefore bounded in corpus AND conversation size,
    and it is freed when the call returns."""
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


# Upper bound on text volume per winnowing kernel call.  Per-call peak of
# _winnow_group: ~27 B/char of numpy temporaries (hashes, window argmins,
# selection mask and np.unique copies; measured with tracemalloc), i.e.
# ~850 MB at the bound, on top of the batch's own strings; all of it is
# freed when the call returns.  Above bench.py's batch sizes (10k
# rows x ~3k chars ~ 30M), so measured walls are unaffected; it exists for
# corpora whose per-batch text volume explodes.
MAX_BATCH_CHARS = 32_000_000


def _winnow_group(convs: list, id_col: str, k: int, w: int) -> pd.DataFrame:
    ids = fps = poss = ()
    if convs:
        lens = np.fromiter((len(t) for _, t in convs), dtype=np.int64, count=len(convs))
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        # the concatenated code points die once hashed
        allh = _kgram_hashes_codes(
            np.concatenate([
                np.frombuffer(t.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
                for _, t in convs
            ]),
            k,
        )
        # Selection is fully vectorized across the group (the per-conv
        # np.unique + .tolist() loop was ~40% of warm kernel CPU at bench
        # scale): texts own DISJOINT global position ranges, so one global
        # np.unique over the masked window argmins equals the per-text
        # uniques, and np.searchsorted(starts) maps each selected position
        # back to its text.  Value- and multiplicity-identical to the loop
        # (asserted in tests/test_suffix.py).
        mask = np.zeros(max(allh.size - w + 1, 0), dtype=np.bool_)
        short_sel = []
        for st, ln in zip(starts.tolist(), lens.tolist()):
            n = ln - k + 1
            if n <= 0:
                continue
            if n <= w:
                # single evaluated window: leftmost argmin of the text's
                # own hash range (identical to window_argmin's tie rule)
                short_sel.append(st + int(np.argmin(allh[st : st + n])))
            else:
                mask[st : st + n - w + 1] = True
        # ONE O(n) window-argmin pass over the whole group: every in-text
        # window reads only in-text hash positions, so the global pass
        # selects exactly what per-text passes would (boundary-mixed hashes
        # sit outside every evaluated window)
        sel = np.sort(np.concatenate((
            np.unique(window_argmin(allh, w)[mask]),
            np.asarray(short_sel, dtype=np.int64),
        )))
        if sel.size:
            ci = np.searchsorted(starts, sel, side="right") - 1
            cid_arr = np.empty(len(convs), dtype=object)
            for i, (cid, _) in enumerate(convs):
                cid_arr[i] = cid
            ids = cid_arr[ci]
            fps = allh[sel].astype(np.int64)
            poss = sel - starts[ci]
    return pd.DataFrame({id_col: ids, "fp": fps, "pos": poss})


def _winnow_single_long(cid, text: str, id_col: str, k: int, w: int) -> pd.DataFrame:
    """Chunked winnow for ONE text longer than MAX_BATCH_CHARS, so kernel
    memory stays capped even for an adversarially long conversation.

    Bit-identical to the unchunked pass: k-gram hashes are content-local
    (_kgram_hashes_seg) and window_argmin is the LEFTMOST argmin — purely
    window-content-determined — so evaluating each window start exactly
    once, in the chunk that owns it (with a w+k-2-char read-ahead for
    windows reaching past the owned range), selects exactly the positions
    the whole-text pass would.  Positions selected twice (a window in the
    owned range and one in the previous chunk's read-ahead pointing at the
    same minimum) are deduplicated like the whole-text np.unique.  Peak
    footprint: the input row's own string (unavoidable), one chunk's kernel
    call (bounded like a MAX_BATCH_CHARS group, see there) and the selected
    (pos, fp) list, ~2/(w+1) of the text's positions.
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
        allh = _kgram_hashes_codes(codes, k)
        wam = window_argmin(allh, w)
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
    reproduce the loops' boundary conditions.  Per-call peak: the output
    plus ~25 B x chunk x W for the widest segment W of a chunk (~45 MB at
    the default chunk and verify_substring_pairs' 2L+64-char segments)."""
    n = len(flat)
    spans = np.zeros(n, dtype=np.int64)
    for lo in range(0, n, chunk):
        part = flat[lo : lo + chunk]
        m = len(part)
        la = np.fromiter((len(r[1]) for r in part), dtype=np.int64, count=m)
        lb = np.fromiter((len(r[2]) for r in part), dtype=np.int64, count=m)
        W = int(max(la.max(), lb.max(), 1))
        A = np.full((m, W), 0xFFFFFFFF, dtype=np.uint32)
        B = np.full((m, W), 0xFFFFFFFE, dtype=np.uint32)
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
        t = np.arange(W)[None, :]
        rowoff = np.arange(0, m * W, W)[:, None]

        def gather(mat, idx):
            # idx: (m, W) in-row column indices, clipped into the row
            np.clip(idx, 0, W - 1, out=idx)
            idx += rowoff
            return mat.reshape(-1)[idx]

        # right extension: first t with A[pa+t] != B[pb+t] (or out of range)
        eq = gather(A, pa + t) == gather(B, pb + t)
        eq &= t < la[:, None] - pa  # pa + t < la
        eq &= t < lb[:, None] - pb  # pb + t < lb
        # all-True row (both segments match through every in-bounds t, e.g.
        # identical full-width segments at pos 0): argmax(all-False) is 0,
        # but the loop semantics give the full in-bounds run
        full = eq.all(axis=1)
        r_run = np.argmax(~eq, axis=1)
        if full.any():
            r_run = np.where(
                full, np.minimum(la - pa.ravel(), lb - pb.ravel()), r_run
            )
        # left extension: first t with A[pa-1-t] != B[pb-1-t] (or t >= pa/pb);
        # the bound fails at t = pa <= W-1, so every row has a mismatch
        eq = gather(A, pa - 1 - t) == gather(B, pb - 1 - t)
        eq &= t < pa  # pa - 1 - t >= 0
        eq &= t < pb  # pb - 1 - t >= 0
        l_run = np.argmax(~eq, axis=1)
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


def pretouch_for(
    spark,
    transcripts_df,
    n_tasks: int,
    text_col: str = "text",
    margin: float = 1.6,
) -> int:
    """No-op kept for bench.py, which calls it during its untimed warm-up
    and prints the result.  It used to pre-populate per-worker kernel
    buffers; the kernels now allocate plain temporaries per call, so there
    is nothing to warm.  Runs no Spark job and returns 0 (bytes touched)."""
    return 0


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
