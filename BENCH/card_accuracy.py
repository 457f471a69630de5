#!/usr/bin/env python3
"""Cardinality-estimator accuracy: planted distinct count, relative-error
stats per family — the F0 counterpart of accuracy.py's Jaccard protocol
(the reference publishes no F0 tolerance; hlltest.cpp's 2-sigma band is
pinned in tests/test_hll_estimators.py — this table records the measured
error so the new tiers ship with numbers, not claims).

Covers the round-4 additions next to the established HLL tier:
  * ntcard Card (mult.h:178-337) — F0 via the literal report() recursion,
    doubled per the documented halved-law (operators/ntcard.py parity note)
  * HLL p=10 Ertl-improved / Ertl-MLE (the monoidal production tier)
  * PCSA p=6 (pc.h)

Appends a section to the end of BENCH/accuracy.md (accuracy.py rewrites
only the block between its markers, so the appended section survives it).
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sketch_spark.operators import hll  # noqa: E402
from sketch_spark.operators.ntcard import ntcard_report_np  # noqa: E402

TRIALS = 30
N = 1 << 16


def ntcard_f0(hashes: np.ndarray, r: int, p: int) -> float:
    pshift = 64 - p
    kept = hashes[(hashes >> np.uint64(pshift)) == 0]
    lastbit = ((kept >> np.uint64(pshift - 1)) & np.uint64(1)).astype(np.int64)
    b = (kept & np.uint64((1 << r) - 1)).astype(np.int64) + (lastbit << r)
    counters = np.bincount(b, minlength=2 << r)
    f = ntcard_report_np(np.minimum(counters, 255), r, p)
    return 2.0 * float(f[0])  # documented halved-law correction


def pcsa_estimate(hashes: np.ndarray, p: int) -> float:
    m = 1 << p
    bucket = (hashes % np.uint64(m)).astype(np.int64)
    rest = (hashes // np.uint64(m)).astype(np.uint64)
    bit = (~rest) & (rest + np.uint64(1))  # lowest zero bit one-hot
    regs = np.zeros(m, dtype=np.uint64)
    np.bitwise_or.at(regs, bucket, bit)
    # mean position of lowest unset bit; PCSA magic constant 0.77351
    ranks = np.array(
        [int(((~int(v)) & (int(v) + 1)).bit_length() - 1) for v in regs]
    )
    return m / 0.77351 * 2.0 ** ranks.mean()


def main() -> None:
    rng = np.random.default_rng(4242)
    fams: dict[str, list[float]] = {}
    for _ in range(TRIALS):
        hs = rng.integers(0, 2**64, size=N, dtype=np.uint64)
        hs = np.unique(hs)  # distinct draws; len ~ N (collisions negligible)
        truth = len(hs)
        regs = hll.hll_registers_np(hs.astype(np.int64), 10)
        counts = hll.reg_histogram(regs, 64 - 10 + 1)
        fams.setdefault("HLL p=10 Ertl-improved", []).append(
            hll.ertl_improved_estimate(counts, 10) / truth - 1
        )
        fams.setdefault("HLL p=10 Ertl-MLE", []).append(
            hll.ertl_ml_estimate(counts, 10, 64 - 10) / truth - 1
        )
        fams.setdefault("PCSA p=6", []).append(
            pcsa_estimate(hs, 6) / truth - 1
        )
        fams.setdefault("ntcard r=12 p=4 (2x literal F0)", []).append(
            ntcard_f0(hs, 12, 4) / truth - 1
        )

    lines = [
        "\n## Cardinality estimators vs planted distinct count "
        f"(BENCH/card_accuracy.py; {TRIALS} trials x 2^16 distinct)\n",
        "\n| estimator | RMS rel err | mean |rel err| | rel bias |\n"
        "|---|---|---|---|\n",
    ]
    for name, errs in fams.items():
        e = np.array(errs)
        lines.append(
            f"| {name} | {float(np.sqrt((e**2).mean())):.4f} | "
            f"{float(np.abs(e).mean()):.4f} | {float(e.mean()):+.4f} |\n"
        )
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "accuracy.md")
    with open(out, "a") as f:
        f.writelines(lines)
    print("".join(lines))


if __name__ == "__main__":
    main()
