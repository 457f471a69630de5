#!/usr/bin/env python3
"""Derive the BASELINE.md scaling numbers from BENCH/scaling_results.jsonl.

Single source of truth: every throughput/efficiency figure quoted in
BENCH/BASELINE.md must appear in (or be computed here from) the jsonl.
Prints a markdown fragment with medians + ranges per (series, cpus, scale)
group, strong-scaling efficiencies from those medians, and the weak-scaling
pairs.  The jsonl is the archived record of the local[32] scaling
campaign; the scripts that produced it were retired in favour of
perfbench/.

Series: the jsonl is append-only across rounds; round-4 re-measured the key
(cpus, scale) points under the rewritten winnowing/verify kernels and the
auto verify-prefilter policy, which changes both walls and (at scale >=
1200) the verified_pairs counter — so entries are grouped into series by
their recorded code rev ("r3" legacy lines carry none) and efficiencies are
only ever computed WITHIN one series.  Counter identity is asserted within
(scale, series), not across series.
"""

from __future__ import annotations

import json
import statistics as st
import sys


def load(path: str = "BENCH/scaling_results.jsonl"):
    rows = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                rows.append(json.loads(line))
    return rows


# rev -> human series label.  6d91c5e = round-4 arena+pretouch kernels;
# ffe0771/bf41b81 = r4 plus a winnow repartition cap (bit-identical
# output; pays a text shuffle — only the two crossover runs measured
# here); bf42cc1 = r4 with the shuffle-free in-batch char bound (walls
# equal r4 at all measured scales).  Unknown future revs print as-is.
_REV_SERIES = {
    "6d91c5e": "r4",
    "ffe0771": "r4b", "bf41b81": "r4b",
    # doc-only commits between runs shift recorded HEAD; same code as bf42cc1
    "bf42cc1": "r4c", "acaa871": "r4c", "c9917e5": "r4c", "8cc0549": "r4c",
    "23eca4c": "r4c", "7186d22": "r4c",
    # final-HEAD control series: eabf453..e6a29c7 are doc/coverage-op
    # commits with an identical dedup-pipeline path (counters byte-equal);
    # their walls are host-inflated and BASELINE §3 quotes them as a
    # control, not as efficiencies
    "eabf453": "r4ctl", "274ecdd": "r4ctl", "e6a29c7": "r4ctl",
    # round-4-close series (review fixes; pipeline value-identical)
    "1a2cb65": "r4close",
    # final HEAD (edge-case batches + counters-from-materialization)
    "b06906b": "r4final",
    # round-5 kernels: deterministic hot-census routing (no driver key
    # list / no 100k abort), per-partition resume plumbing, vectorized
    # winnow selection — pipeline value-identical (counters byte-equal at
    # scale 1200 across 2/8/32 cores, recall re-pinned 1.0)
    "1b816e2": "r5",
}


def series_of(r: dict) -> str:
    # legacy (round-3 campaign) lines carry no rev; every round-4+ line does
    if not r.get("rev"):
        return "r3"
    base = _REV_SERIES.get(r["rev"], r["rev"])
    forced = r.get("policy", {}).get("minhash_prefilter_forced")
    return f"{base}-pf{forced}" if forced else base


def main() -> None:
    rows = load(sys.argv[1] if len(sys.argv) > 1 else "BENCH/scaling_results.jsonl")
    # single-run-cold diagnostics must NOT enter the warm medians (their
    # wall_sec is a cold wall by the record's own protocol field; mixing
    # one into a 2-row group silently averaged cold into "warm wall med")
    diags = [r for r in rows if r.get("protocol") == "single-run-cold"]
    warm_rows = [r for r in rows if r.get("protocol") != "single-run-cold"]
    groups: dict[tuple[str, int, int], list[dict]] = {}
    for r in warm_rows:
        groups.setdefault((series_of(r), r["cpus"], r["scale"]), []).append(r)

    # counters must be identical within (series, scale) — byte-identical
    # work; asserted over ALL rows including the cold diagnostics
    by_sk: dict[tuple[str, int], list[dict]] = {}
    for r in rows:
        by_sk.setdefault((series_of(r), r["scale"]), []).append(r["counters"])
    for (key_s, key_scale), cs in by_sk.items():
        assert all(c == cs[0] for c in cs), (
            f"counter drift at scale {key_scale} within series {key_s}"
        )

    def med(vals):
        return st.median(vals)

    print("## Scaling summary (derived from scaling_results.jsonl)\n")
    print("| series | cpus | scale | turns | n runs | warm wall med [min..max] s | med turns/s | cold walls s |")
    print("|---|---|---|---|---|---|---|---|")
    stats = {}
    for (ser, cpus, scale), g in sorted(
        groups.items(), key=lambda kv: (kv[0][0], kv[0][2], kv[0][1])
    ):
        walls = [r["wall_sec"] for r in g]
        colds = [w for r in g for w in r.get("cold_walls", [])]
        turns = g[0]["turns"]
        m = med(walls)
        stats[(ser, cpus, scale)] = {"wall": m, "turns": turns, "n": len(walls)}
        print(
            f"| {ser} | {cpus} | {scale} | {turns:,} | {len(walls)} | "
            f"{m:.1f} [{min(walls):.1f}..{max(walls):.1f}] | "
            f"{turns / m:,.0f} | {', '.join(f'{c:.1f}' for c in colds)} |"
        )

    print("\n### Strong scaling (fixed input, median warm walls, within one series)\n")
    for ser in sorted({s for s, _, _ in stats}):
        scales = sorted({sc for s, _, sc in stats if s == ser})
        for sc in scales:
            cpus_here = sorted(c for s, c, s2 in stats if s == ser and s2 == sc)
            for lo, hi in [(a, b) for a in cpus_here for b in cpus_here if b == 4 * a]:
                tlo = stats[(ser, lo, sc)]["wall"]
                thi = stats[(ser, hi, sc)]["wall"]
                print(
                    f"- [{ser}] scale {sc}: T{lo}/(4*T{hi}) = "
                    f"{tlo:.1f}/(4*{thi:.1f}) = **{tlo / (4 * thi):.2f}**"
                )

    print("\n### Weak scaling (4x cores on 4x data, median warm walls, within one series)\n")
    for ser in sorted({s for s, _, _ in stats}):
        for (clo, slo), (chi, shi) in [
            ((2, 300), (8, 1200)),
            ((2, 1200), (8, 4800)),
            ((8, 1200), (32, 4800)),
        ]:
            if (ser, clo, slo) in stats and (ser, chi, shi) in stats:
                tlo = stats[(ser, clo, slo)]["wall"]
                thi = stats[(ser, chi, shi)]["wall"]
                tps = stats[(ser, chi, shi)]["turns"] / thi
                print(
                    f"- [{ser}] local[{clo}]@{stats[(ser, clo, slo)]['turns']:,} = "
                    f"{tlo:.1f}s vs local[{chi}]@{stats[(ser, chi, shi)]['turns']:,}"
                    f" = {thi:.1f}s ({tps:,.0f} turns/s): weak efficiency "
                    f"{tlo:.1f}/{thi:.1f} = **{tlo / thi:.2f}**"
                )

    print("\n### Per-stage medians (seconds, warm)\n")
    stages = ["conv", "sig", "exact", "cands", "verify", "substr", "cc", "counters"]
    print("| series | cpus | scale | " + " | ".join(stages) + " |")
    print("|---" * (len(stages) + 3) + "|")
    for (ser, cpus, scale), g in sorted(
        groups.items(), key=lambda kv: (kv[0][0], kv[0][2], kv[0][1])
    ):
        # median over the runs that actually RAN the stage — coercing a
        # missing stage to 0.0 dragged the median toward zero
        cells = []
        for s in stages:
            vals = [
                r["stages"][s]
                for r in g
                if r.get("stages", {}).get(s) is not None
            ]
            cells.append(f"{med(vals):.1f}" if vals else "—")
        print(f"| {ser} | {cpus} | {scale} | " + " | ".join(cells) + " |")

    if diags:
        print("\n### Single-run-cold diagnostics (excluded from warm medians)\n")
        for d in diags:
            print(
                f"- [{series_of(d)}] local[{d['cpus']}] scale {d['scale']}"
                f" heap {d.get('heap') or '?'}: cold wall {d['wall_sec']:.1f}s"
            )

    rec = [r for r in rows if "recall" in r]
    for r in rec:
        print(
            f"\nRecall [{series_of(r)}] (scale {r['scale']}, local[{r['cpus']}]):"
            f" {r['recalled']:,}/{r['truth_pairs']:,}"
            f" = {r['recall']:.6f}, extra pairs = {r['extra_pairs']}"
        )


if __name__ == "__main__":
    main()
