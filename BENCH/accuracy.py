#!/usr/bin/env python3
"""Estimator-accuracy regression harness (reference benchmark/acc.cpp:19-116:
trials of planted true J = 1/3, reporting MSE / mean-abs-err / bias per
sketch family and size).

Uses the numpy implementations that mirror the Spark operators exactly
(same bucket/min register rule, same densification, same collision-
corrected estimator), fed with uniform random uint64 "hashes" — identical
to the reference harness feeding raw RNG draws into addh.

Rewrites only the block of BENCH/accuracy.md between the BEGIN and END
marker lines; the archived sections around it are kept byte for byte.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sketch_spark.operators.minhash import (  # noqa: E402
    EMPTY_REG,
    densify_batch,
)
from sketch_spark.operators.setsketch import cset_registers_py  # noqa: E402

TRIALS = 50
N = 1 << 16
TRUE_J = 1 / 3
BEGIN = "<!-- BEGIN BENCH/accuracy.py: generated, rewritten on each run -->\n"
END = "<!-- END BENCH/accuracy.py -->\n"


def one_perm_sig(vals: np.ndarray, p: int) -> np.ndarray:
    # int64 registers end-to-end (a float64 round-trip corrupts the low
    # bits of 55-bit values, which is exactly what b-bit compare reads)
    m = 1 << p
    vb = 64 - p
    bucket = (vals >> np.uint64(vb)).astype(np.int64)
    rem = (vals & np.uint64((1 << vb) - 1)).astype(np.int64)
    regs = np.full(m, EMPTY_REG, dtype=np.int64)
    np.minimum.at(regs, bucket, rem)
    return regs


def planted_pair(rng, n: int, true_j: float):
    olap = int(round(2 * n * true_j / (1 + true_j)))
    pool = np.unique(rng.integers(0, 2**64, size=2 * n + 1000, dtype=np.uint64))
    rng.shuffle(pool)
    shared = pool[:olap]
    a = np.concatenate([shared, pool[olap:n]])
    b = np.concatenate([shared, pool[n : 2 * n - olap]])
    return a, b, olap / (2 * n - olap)


def bbit_jaccard(sa, sb, b: int) -> float:
    mask = np.uint64((1 << b) - 1)
    ta = sa.astype(np.uint64) & mask
    tb = sb.astype(np.uint64) & mask
    frac = (ta == tb).mean()
    cb = 2.0 ** (-b)
    return max(0.0, (frac - cb) / (1 - cb))


def bottomk_jaccard(a, b, k: int) -> float:
    ua = np.unique(a)[:k]
    ub = np.unique(b)[:k]
    union = np.unique(np.concatenate([ua, ub]))[:k]
    sa, sb = set(ua.tolist()), set(ub.tolist())
    shared = sum(1 for v in union.tolist() if v in sa and v in sb)
    return shared / min(k, len(union))


def table(rows) -> str:
    """The generated block: protocol note + one table row per estimator."""
    return (
        f"{TRIALS} trials x 2^16 elements per set "
        "(2^13 for the CSetSketch row, whose builder "
        "materializes an (n, m) matrix) "
        "(reference benchmark/acc.cpp protocol; numpy mirror of the "
        "Spark operators: same register rule, densification, and "
        "collision-corrected estimator).\n\n"
        "| estimator | MSE | mean |err| | bias |\n|---|---|---|---|\n"
    ) + "".join(
        f"| {name} | {mse:.2e} | {mae:.4f} | {bias:+.4f} |\n"
        for name, mse, mae, bias in rows
    )


def splice(text: str, block: str) -> str:
    """`text` with the lines between its BEGIN and END markers replaced by
    `block`; everything outside the markers is returned unchanged.  Raises
    ValueError unless each marker occurs once, BEGIN first, so a file
    without them is never overwritten."""
    i, j = text.find(BEGIN), text.find(END)
    if text.count(BEGIN) != 1 or text.count(END) != 1 or j < i:
        raise ValueError("accuracy.md needs one BEGIN marker, then one END marker")
    return text[: i + len(BEGIN)] + block + text[j:]


def main() -> None:
    rng = np.random.default_rng(1337)
    rows = []
    for p in (9, 10, 11):
        m = 1 << p
        ests = {b: [] for b in (2, 4, 8, 16)}
        bk_est = []
        for _ in range(TRIALS):
            a, b_, tj = planted_pair(rng, N, TRUE_J)
            sa = one_perm_sig(a, p)
            sb = one_perm_sig(b_, p)
            mat = np.vstack([sa, sb])
            dense = densify_batch(mat, mat == EMPTY_REG, m)
            da, db = dense[0].astype(np.uint64), dense[1].astype(np.uint64)
            for bb in ests:
                ests[bb].append(bbit_jaccard(da, db, bb))
            bk_est.append(bottomk_jaccard(a, b_, m))
        for bb, vals in ests.items():
            e = np.array(vals) - TRUE_J
            rows.append((f"one-perm p={p} b={bb}", float((e**2).mean()),
                         float(np.abs(e).mean()), float(e.mean())))
        e = np.array(bk_est) - TRUE_J
        rows.append((f"bottom-k k={m}", float((e**2).mean()),
                     float(np.abs(e).mean()), float(e.mean())))

    # CSetSketch at m = 512 registers (equal-register fraction estimator;
    # same planted-J protocol, n = 2^13 per set — the builder materializes
    # an (n, m) matrix per set, so the protocol uses smaller sets at the
    # same trial count)
    m = 512
    est = []
    for _ in range(TRIALS):
        a, b_, tj = planted_pair(rng, 1 << 13, TRUE_J)
        ca = cset_registers_py(a.astype(np.int64), m)
        cb = cset_registers_py(b_.astype(np.int64), m)
        est.append(float((ca == cb).mean()))
    e = np.array(est) - TRUE_J
    rows.append(("CSetSketch m=512", float((e**2).mean()),
                 float(np.abs(e).mean()), float(e.mean())))

    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "accuracy.md")
    with open(out) as f:
        text = splice(f.read(), table(rows))
    with open(out, "w") as f:
        f.write(text)
    print(f"wrote {out}")
    for name, mse, mae, bias in rows:
        print(f"{name:24s} mse={mse:.2e} mae={mae:.4f} bias={bias:+.4f}")


if __name__ == "__main__":
    main()
