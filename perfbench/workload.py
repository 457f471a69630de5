"""One benchmark run of one workload, in its own process.

Started by ``run.py``, which supervises the process tree and measures its
memory.  This process sets up a Spark session through the
program's public API, loads the workload's inputs (the dedup corpus is
generated from ``--seed``; the query tables are fixed), runs
the workload closed-loop (one client), an untimed warm-up and then timed
repetitions, at least three and for at least ``--seconds``, checks every
output and prints one JSON object as its last stdout line.  With
``--trace 1`` it also enables Spark's event log, wraps the program's
layer entry points in spans and reports per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

from tracing import EventLog, Tracer, overlap_s

HEADLINE = (
    "q01_fingerprint_groups", "q03_bottomk", "q05_oneperm_registers",
    "q06_band_buckets", "q07_simhash", "q14_order_part_overlap",
    "q15_ngram_jaccard", "q16_ann_topk", "q17_user_sessions",
    "q18_lineitem_agg",
)
STAGES = ("conv", "sig", "exact", "cands", "verify", "substr", "cc")
CHAIN = ("conv", "sig", "cands", "verify", "cc")
CKPT_STAGES = ("conv", "sig", "exact", "cands", "verify", "substr")

# The project's test tables (seed 42), one directory per scale factor.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# Input sizes.  "full" is what the benchmark measures; "tiny" is for the
# benchmark's own smoke test.
SIZES = {
    "full": {"scale": 3, "sf": "sf0.01", "queries": HEADLINE},
    "tiny": {"scale": 1, "sf": "sf0.001",
             "queries": ("q03_bottomk", "q18_lineitem_agg")},
}
# Lineage counters of the dedup pipeline on the "full" synth corpus at
# seed 42.  A mismatch means the run did different work, so its times do
# not compare.
PINNED_SEED = 42
PINNED_COUNTERS = {
    "convs": 1165, "exact_pairs": 67, "candidate_pairs": 4378,
    "verified_pairs": 4277, "substring_pairs": 3632, "cc_iterations": 2,
    "clusters": 670,
}
SETUP_LOADS = 2
# Timed repetitions per run, at least.  The first execution in a fresh JVM
# pays JIT, code-generation and heap-growth costs, so each workload first
# runs untimed: one dedup repetition (writing run and resumed run), or a
# cold query pass and one warm pass.
MIN_REPS = 3

END_TO_END = {"setup_s": "s", "work_s": "s"}


def per_layer_units() -> dict[str, str]:
    u: dict[str, str] = {}
    for s in STAGES:
        u.update({f"{s}.busy_s": "s", f"{s}.rows_out": "rows",
                  f"{s}.shuffle_write_bytes": "B", f"{s}.executor_cpu_s": "s",
                  f"{s}.python_bytes_sent": "B",
                  f"{s}.python_bytes_returned": "B"})
    u.update({"cc.iterations": "count", "dedup.critical_path_s": "s",
              "substr.hidden_s": "s", "cands.useful_ratio": "ratio",
              "dedup.recall": "ratio", "dedup.extra_pairs": "count",
              "dedup.turns_per_s": "1/s",
              "ckpt.run_s": "s", "ckpt.write_s": "s",
              "ckpt.bytes_written": "B", "ckpt.files_written": "count",
              "resume.run_s": "s", "resume.read_s": "s",
              "resume.spark_jobs": "count", "resume.stages_resumed": "count",
              "resume.cc_busy_s": "s"})
    for q in HEADLINE:
        u.update({f"q.{q}.warm_s": "s", f"q.{q}.shuffle_write_bytes": "B",
                  f"q.{q}.python_bytes_sent": "B",
                  f"q.{q}.python_bytes_returned": "B"})
    u.update({"queries.suite_s": "s",
              "python.bytes_sent": "B", "python.bytes_returned": "B",
              "spark.jobs": "count", "spark.tasks": "count",
              "spark.gc_s": "s", "spark.spill_bytes": "B",
              "spark.task_skew": "ratio", "spark.executor_cpu_s": "s",
              "session.start_s": "s", "session.worker_warm_s": "s",
              "session.input_load_s": "s",
              "host.load1": "load", "host.mem_available_mb": "MB",
              "host.steal_s": "s",
              "host.peak_rss_mb": "MB",
              "checks.failed_ops_ratio": "ratio", "trace.work_s": "s"})
    return u


T_START = time.time()


def log(msg: str) -> None:
    print(f"# [{time.time() - T_START:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def host_signals() -> dict[str, float]:
    mem = 0.0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem = int(line.split()[1]) / 1024.0
    return {"host.load1": os.getloadavg()[0], "host.mem_available_mb": mem}


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Ops:
    """Operations attempted and failed; a failed output check counts as a
    failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            log(f"FAILED op {name}:\n{traceback.format_exc()}")
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED {name}: {detail}")
        return ok


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


# -- dedup -----------------------------------------------------------------

def cluster_pairs(assign: dict[str, str]) -> set[tuple[str, str]]:
    members = defaultdict(list)
    for conv, cluster in assign.items():
        members[cluster].append(conv)
    return {
        (a, b) if a < b else (b, a)
        for mem in members.values()
        for i, a in enumerate(mem)
        for b in mem[i + 1:]
    }


def check_clusters(ops: Ops, name: str, clusters_df, truth: set, corrupt: bool):
    """recall >= 0.99 and no extra same-cluster pair against the planted
    truth; returns (recall, extra pairs)."""
    pdf = ops.run(f"{name}.collect",
                  lambda: clusters_df.select("conv_id", "cluster_id").toPandas())
    if pdf is None:
        return 0.0, 0
    got = dict(zip(pdf.conv_id, pdf.cluster_id))
    if corrupt and len(got) > 1:
        # forced mismatch for the smoke test: merge two singletons-or-not
        # conversations that the truth keeps apart
        ids = sorted(got)
        a = ids[0]
        b = next(c for c in ids[1:] if (min(a, c), max(a, c)) not in truth)
        got[b] = got[a]
    pairs = cluster_pairs(got)
    recall = len(truth & pairs) / len(truth) if truth else 1.0
    extra = len(pairs - truth)
    ops.check(f"{name}.recall", recall >= 0.99, f"recall {recall:.4f}")
    ops.check(f"{name}.extra_pairs", extra == 0, f"{extra} extra pairs")
    return recall, extra


def wrap_dedup(tracer: Tracer) -> None:
    from pyspark.sql import readwriter

    from sketch_spark.operators import cc as cc_mod
    from sketch_spark.operators.dedup import DedupPipeline
    from sketch_spark.sources.checkpoints import CheckpointManager

    for s in ("conv", "sig", "exact", "cands", "verify", "substr"):
        tracer.wrap(DedupPipeline, f"{s}_stage",
                    lambda a, k, s=s: (s, s))
    # cc has no *_stage method: its whole stage (components + label joins
    # + materialisation) runs under CheckpointManager.timed("cc")
    tracer.wrap(CheckpointManager, "timed",
                lambda a, k: ("cc", "cc") if a[1] == "cc" else None)
    tracer.wrap(cc_mod, "connected_components",
                lambda a, k: ("cc.components", None))
    tracer.wrap(CheckpointManager, "run",
                lambda a, k: (f"ckpt.{a[1]}", None) if a[0].enabled else None)
    tracer.wrap(readwriter.DataFrameWriter, "parquet",
                lambda a, k: ("parquet.write", None))


def dir_bytes_files(root: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        if os.sep + "_scratch" in d:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return size, files


def dedup_workload(spark, args, size, ops: Ops, tracer: Tracer, setup):
    from sketch_spark.operators.dedup import DedupConfig, DedupPipeline
    from sketch_spark.sources import synth

    scale = size["scale"]
    corpus = synth.generate(synth.SynthConfig(seed=args.seed, scale=scale))
    truth = cluster_pairs(dict(zip(corpus.truth_clusters.conv_id,
                                   corpus.truth_clusters.cluster_id)))
    n_turns = len(corpus.transcripts)

    def load():
        t, _, _ = synth.to_spark(spark, corpus)
        t = t.persist()
        t.count()
        return t

    t = setup(load, lambda df: df.unpersist())
    log(f"corpus: scale {scale}, seed {args.seed}, {n_turns} turns, "
        f"{len(truth)} truth pairs")
    pinned = (PINNED_COUNTERS if args.seed == PINNED_SEED
              and size is SIZES["full"] else None)
    if tracer.enabled:
        wrap_dedup(tracer)

    def run_pipeline(data, ck):
        pipe = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ck)
        out = pipe.run(data)
        out["clusters"].count()
        return pipe, out["clusters"]

    # Repetition 0 is an untimed warm-up: one checkpoint-writing run and
    # one resumed run.  It compiles every stage's code, the parquet write
    # and read paths included, and grows the JVM heap and the workers'
    # kernel arenas to this input's size before the clock runs.  A warm-up
    # run without checkpoints leaves the first checkpointed repetition
    # 20-60% slower than the next.
    reps: list[dict] = []
    quality = None
    deadline = None
    while len(reps) <= MIN_REPS or time.time() < deadline:
        i = len(reps)
        rep = {"i": i, "host": host_signals()}
        steal0 = steal_s()
        ck = os.path.join(args.work, f"ckpt-{i}")
        tracer.prefix = f"r{i}.run"
        t0 = time.time()
        done = ops.run("dedup.run", lambda: run_pipeline(t, ck))
        t1 = time.time()
        if done is None:
            break
        pipe, clusters = done
        rep.update(run=(t0, t1), counters=dict(pipe.counters),
                   log=list(pipe.ckpt.log))
        if not reps:
            quality = check_clusters(ops, "run", clusters, truth, args.corrupt)
        else:
            ops.check("run.counters_stable",
                      rep["counters"] == reps[0]["counters"],
                      f"{rep['counters']} vs {reps[0]['counters']}")
        if pinned is not None:
            ops.check("run.counters_pinned", rep["counters"] == pinned,
                      f"{rep['counters']} vs pinned {pinned}")
        pipe.unpersist_all()
        rep["ckpt_bytes"], rep["ckpt_files"] = dir_bytes_files(ck)
        tracer.prefix = f"r{i}.resume"
        t2 = time.time()
        done = ops.run("dedup.resume", lambda: run_pipeline(t, ck))
        t3 = time.time()
        if done is None:
            break
        pipe2, clusters2 = done
        rep.update(resume=(t2, t3), resumed=sum(
            1 for e in pipe2.ckpt.log if e.get("resumed")))
        ops.check("resume.all_stages", rep["resumed"] == len(CKPT_STAGES),
                  f"{rep['resumed']} of {len(CKPT_STAGES)} stages resumed")
        ops.check("resume.counters", pipe2.counters == rep["counters"],
                  f"{pipe2.counters} vs {rep['counters']}")
        if not reps:
            check_clusters(ops, "resume", clusters2, truth, args.corrupt)
        pipe2.unpersist_all()
        shutil.rmtree(ck, ignore_errors=True)
        rep["host"]["host.steal_s"] = steal_s() - steal0
        reps.append(rep)
        log(f"{'warm-up' if i == 0 else f'rep {i}'}: run {t1 - t0:.3f}s "
            f"resume {t3 - t2:.3f}s load1 {rep['host']['host.load1']:.2f} "
            f"steal {rep['host']['host.steal_s']:.2f}s"
            + (f" counters {rep['counters']}" if i == 0 else ""))
        if deadline is None:
            deadline = time.time() + args.seconds
    return reps[1:], n_turns, quality


# -- sketch queries --------------------------------------------------------

def queries_workload(spark, args, size, ops: Ops, tracer: Tracer, setup):
    from sketch_spark.plans.entry_queries import ORACLES, QUERIES
    from tests.oracle_compare import TABLES, compare, duck_connect

    sf_dir = os.path.join(DATA, size["sf"])

    def load():
        for name in TABLES:
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).count()

    setup(load, None)
    log(f"tables: {sf_dir}")
    names = size["queries"]

    def oracle(sql):
        con = duck_connect(sf_dir)
        try:
            return con.execute(sql).df()
        finally:
            con.close()

    def execute(q):
        with tracer.span(f"q.{q}", group=f"q.{q}"):
            return QUERIES[q](spark, sf_dir).toPandas()

    # untimed cold pass, each result checked against its DuckDB oracle; the
    # oracles run in a background thread while Spark runs the cold pass
    tracer.prefix = "cold"
    expected: dict[str, int] = {}
    results = {}
    with ThreadPoolExecutor(max_workers=1) as pool:
        wanted = {q: pool.submit(oracle, ORACLES[q]) for q in names}
        for q in names:
            t0 = time.time()
            got = ops.run(f"{q}.cold", lambda: execute(q))
            log(f"{q}: cold {time.time() - t0:.3f}s, "
                f"{None if got is None else len(got)} rows")
            if got is not None:
                expected[q] = len(got)
                results[q] = got
        for q in names:
            want = ops.run(f"{q}.oracle", wanted[q].result)
            got = results.get(q)
            if got is None or want is None:
                continue
            if args.corrupt and q == names[0]:
                got = got.iloc[1:] if len(got) else got.assign(_extra=1)
            ok, detail = compare(SimpleNamespace(toPandas=lambda: got), want)
            ops.check(f"{q}.oracle_match", ok, detail)

    # Pass 0 is an untimed warm pass too: the JIT is still compiling the
    # queries' code after the cold pass, and the first warm pass runs about
    # 10% slower than the next.
    passes: list[dict] = []
    deadline = None
    while len(passes) <= MIN_REPS or time.time() < deadline:
        p = {"prefix": f"p{len(passes)}", "host": host_signals(), "walls": {}}
        steal0 = steal_s()
        tracer.prefix = p["prefix"]
        t0 = time.time()
        for q in names:
            s = time.time()
            got = ops.run(f"{q}.warm", lambda: execute(q))
            e = time.time()
            if got is not None:
                p["walls"][q] = e - s
                ops.check(f"{q}.rows", len(got) == expected.get(q),
                          f"{len(got)} rows vs {expected.get(q)} cold")
        p["window"] = (t0, time.time())
        p["host"]["host.steal_s"] = steal_s() - steal0
        passes.append(p)
        log(f"pass {len(passes) - 1}: {p['window'][1] - t0:.3f}s "
            f"load1 {p['host']['host.load1']:.2f} "
            f"steal {p['host']['host.steal_s']:.2f}s "
            + " ".join(f"{q[:3]} {w:.3f}" for q, w in p["walls"].items()))
        if deadline is None:
            deadline = time.time() + args.seconds
    return passes[1:]


# -- metrics ---------------------------------------------------------------

def work_seconds(workload: str, reps: list[dict]) -> float:
    if workload == "sketch_queries":
        names = {q for p in reps for q in p["walls"]}
        return sum(median(p["walls"].get(q) for p in reps) for q in names)
    return (median(r["run"][1] - r["run"][0] for r in reps)
            + median(r["resume"][1] - r["resume"][0] for r in reps))


def dedup_layers(tracer: Tracer, ev: EventLog, reps, n_turns, quality):
    per_rep = []
    for r in reps:
        i = r["i"]
        P = f"r{i}.run"
        m: dict[str, float] = {}
        rows = {e["stage"]: e.get("rows") for e in r["log"]}
        rows["cc"] = r["counters"].get("convs")
        for s in STAGES:
            m[f"{s}.busy_s"] = tracer.busy(P, s)
            m[f"{s}.rows_out"] = rows.get(s) or 0
            t = ev.totals(group=f"{P}|{s}")
            m[f"{s}.shuffle_write_bytes"] = t["shuffle_write"]
            m[f"{s}.executor_cpu_s"] = t["cpu_s"]
            m[f"{s}.python_bytes_sent"] = t["py_sent"]
            m[f"{s}.python_bytes_returned"] = t["py_returned"]
        c = r["counters"]
        m["cc.iterations"] = c.get("cc_iterations", 0)
        m["dedup.critical_path_s"] = sum(m[f"{s}.busy_s"] for s in CHAIN)
        chain = [(s["start"], s["end"]) for n in CHAIN[1:]
                 for s in tracer.find(P, n)]
        m["substr.hidden_s"] = sum(overlap_s((s["start"], s["end"]), chain)
                                   for s in tracer.find(P, "substr"))
        m["cands.useful_ratio"] = (c["verified_pairs"] / c["candidate_pairs"]
                                   if c.get("candidate_pairs") else 0.0)
        R = f"r{i}.resume"
        by_id = {s["id"]: s for s in tracer.spans}
        m["ckpt.run_s"] = r["run"][1] - r["run"][0]
        m["ckpt.write_s"] = sum(
            s["end"] - s["start"] for s in tracer.find(P, "parquet.write")
            if s["parent"] is not None
            and by_id[s["parent"]]["name"].startswith("ckpt."))
        m["ckpt.bytes_written"] = r["ckpt_bytes"]
        m["ckpt.files_written"] = r["ckpt_files"]
        m["resume.run_s"] = r["resume"][1] - r["resume"][0]
        m["resume.read_s"] = sum(tracer.busy(R, f"ckpt.{s}")
                                 for s in CKPT_STAGES)
        m["resume.spark_jobs"] = ev.totals(window=r["resume"])["jobs"]
        m["resume.stages_resumed"] = r["resumed"]
        m["resume.cc_busy_s"] = tracer.busy(R, "cc")
        m.update(engine_totals(ev, [r["run"], r["resume"]]))
        m.update(r["host"])
        per_rep.append(m)
    out = {k: median(m[k] for m in per_rep) for k in per_rep[0]}
    out["dedup.recall"], out["dedup.extra_pairs"] = quality
    out["dedup.turns_per_s"] = n_turns / median(
        r["run"][1] - r["run"][0] for r in reps)
    return out


def query_layers(ev: EventLog, passes):
    per_pass = []
    for p in passes:
        m: dict[str, float] = {}
        for q, wall in p["walls"].items():
            t = ev.totals(group=f"{p['prefix']}|q.{q}")
            m[f"q.{q}.warm_s"] = wall
            m[f"q.{q}.shuffle_write_bytes"] = t["shuffle_write"]
            m[f"q.{q}.python_bytes_sent"] = t["py_sent"]
            m[f"q.{q}.python_bytes_returned"] = t["py_returned"]
        m.update(engine_totals(ev, [p["window"]]))
        m.update(p["host"])
        per_pass.append(m)
    out = {k: median(m.get(k) for m in per_pass)
           for k in {k for m in per_pass for k in m}}
    out["queries.suite_s"] = work_seconds("sketch_queries", passes)
    return out


def engine_totals(ev: EventLog, windows) -> dict[str, float]:
    ts = [ev.totals(window=w) for w in windows]
    tot = {k: sum(t[k] for t in ts) for k in ts[0]}
    return {
        "spark.jobs": tot["jobs"], "spark.tasks": tot["tasks"],
        "spark.gc_s": tot["gc_s"], "spark.spill_bytes": tot["spill"],
        "spark.task_skew": max(t["skew"] for t in ts),
        "spark.executor_cpu_s": tot["cpu_s"],
        "python.bytes_sent": tot["py_sent"],
        "python.bytes_returned": tot["py_returned"],
    }


# -- main ------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("dedup_resume", "sketch_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spans", default=None)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    size = SIZES[args.size]
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    from sketch_spark import get_spark

    extra = None
    ev_dir = os.path.join(args.work, "events")
    if args.trace:
        os.makedirs(ev_dir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": f"file://{ev_dir}",
                 "spark.eventLog.compress": "false"}
    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      extra_conf=extra)
    start_s = time.time() - t0
    t0 = time.time()
    spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(
        lambda it: it, schema="id long").count()
    warm_s = time.time() - t0
    log(f"session {start_s:.3f}s, python workers {warm_s:.3f}s")

    loads: list[float] = []

    def setup(load, drop):
        """Load the inputs SETUP_LOADS times; keep the last copy."""
        out = None
        for _ in range(SETUP_LOADS):
            if out is not None and drop is not None:
                drop(out)
            t = time.time()
            out = load()
            loads.append(time.time() - t)
        return out

    ops = Ops()
    tracer = Tracer(spark.sparkContext, bool(args.trace))
    if args.workload == "sketch_queries":
        reps = queries_workload(spark, args, size, ops, tracer, setup)
    else:
        reps, n_turns, quality = dedup_workload(spark, args, size, ops,
                                                tracer, setup)
    tracer.unwrap()
    spark.stop()
    if not reps:
        log("no repetition completed")
        return 1

    work_s = work_seconds(args.workload, reps)
    setup_s = start_s + warm_s + median(loads)
    if args.trace:
        metrics = dict.fromkeys(per_layer_units(), 0.0)
        ev = EventLog(ev_dir)
        if args.workload == "sketch_queries":
            metrics.update(query_layers(ev, reps))
        else:
            metrics.update(dedup_layers(tracer, ev, reps, n_turns, quality))
        metrics.update({
            "session.start_s": start_s, "session.worker_warm_s": warm_s,
            "session.input_load_s": median(loads),
            "checks.failed_ops_ratio": ops.failed / max(ops.attempted, 1),
            "trace.work_s": work_s,
        })
        if args.spans:
            tracer.dump(args.spans)
        units = per_layer_units()
    else:
        metrics = {"setup_s": setup_s, "work_s": work_s}
        units = END_TO_END
    log(f"{args.workload}: setup {setup_s:.3f}s work {work_s:.3f}s over "
        f"{len(reps)} reps; {ops.failed}/{ops.attempted} ops failed")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
