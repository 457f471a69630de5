"""End-to-end pipeline: recall >= 0.99 vs planted truth, precision guard,
per-turn text-equality invariant, resume idempotence (north rule gates)."""

import shutil
import time

import pytest
from pyspark.sql import functions as F

from sketch_spark.operators.dedup import DedupConfig, DedupPipeline
from sketch_spark.sources import synth


@pytest.fixture(scope="module")
def corpus():
    return synth.generate(
        synth.SynthConfig(
            n_single=40, n_exact=10, n_near=12, n_tail=8, n_substring=6,
            n_boiler=15, n_edge=6,
        )
    )


@pytest.fixture(scope="module")
def result(spark, corpus):
    t, _, _ = synth.to_spark(spark, corpus)
    pipe = DedupPipeline(spark, DedupConfig())
    out = pipe.run(t)
    return pipe, out, t


def _pairs_from_clusters(assign: dict) -> set:
    from collections import defaultdict

    m = defaultdict(list)
    for k, c in assign.items():
        m[c].append(k)
    return {
        (a, b)
        for mem in m.values()
        if len(mem) > 1
        for i, a in enumerate(mem)
        for b in mem[i + 1 :]
    }


def test_recall_and_precision(result, corpus):
    _, out, _ = result
    got = {r.conv_id: r.cluster_id for r in out["clusters"].collect()}
    truth = dict(
        zip(corpus.truth_clusters.conv_id, corpus.truth_clusters.cluster_id)
    )
    tp = _pairs_from_clusters(truth)
    gp = _pairs_from_clusters(got)
    # normalize unordered
    tp = {tuple(sorted(p)) for p in tp}
    gp = {tuple(sorted(p)) for p in gp}
    recall = len(tp & gp) / len(tp)
    assert recall >= 0.99, f"recall {recall}"
    extras = gp - tp
    assert not extras, f"unexpected same-cluster pairs: {sorted(extras)[:5]}"


def test_counters_populated(result):
    pipe, _, _ = result
    c = pipe.counters
    assert c["convs"] > 0
    assert c["exact_pairs"] > 0
    assert c["candidate_pairs"] > 0
    assert c["verified_pairs"] > 0
    assert c["substring_pairs"] > 0
    assert c["cc_iterations"] >= 1


def test_clusters_counter_counts_null_conv_id(spark):
    """A conversation with a null conv_id is its own cluster, labelled
    with a null cluster_id; the clusters counter must count it too
    (count_distinct alone skips nulls)."""
    from datetime import datetime

    rows = [
        (c, i, "user", f"conversation {c} turn {i}", None, datetime(2024, 1, 1))
        for c in ("a", "b", None)
        for i in range(3)
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    # every stage that runs Spark jobs tags them with its name (counters
    # only reads the row counts the other stages logged)
    from sketch_spark.operators.dedup import STAGES

    tracker = spark.sparkContext.statusTracker()
    groups = [name for name, _, _ in STAGES if name != "counters"]
    before = {g: set(tracker.getJobIdsForGroup(g)) for g in groups}
    pipe = DedupPipeline(spark, DedupConfig())
    assert pipe.run(t)["clusters"].count() == 3
    assert pipe.counters["clusters"] == 3
    pipe.unpersist_all()
    deadline = time.time() + 30  # job-start events reach the tracker async
    while True:
        untagged = [g for g in groups
                    if not set(tracker.getJobIdsForGroup(g)) - before[g]]
        if not untagged or time.time() > deadline:
            break
        time.sleep(0.1)
    assert not untagged, f"stages with no job in their group: {untagged}"


def test_per_turn_text_equality(result, spark):
    """North-rule invariant: pipeline outputs re-joined to the untouched
    input on (conv_id, turn_idx) leave text bytes identical (the pipeline
    never mutates text; this asserts the join carries it through)."""
    _, out, t = result
    joined = t.join(out["clusters"], "conv_id", "left")
    assert joined.where(F.col("cluster_id").isNull()).count() == 0
    back = joined.select("conv_id", "turn_idx", "text")
    diff = (
        t.select("conv_id", "turn_idx", F.col("text").alias("orig"))
        .join(back, ["conv_id", "turn_idx"])
        .where(~F.col("text").eqNullSafe(F.col("orig")))
    )
    assert diff.count() == 0


def test_resume_idempotent(spark, corpus, tmp_path):
    t, _, _ = synth.to_spark(spark, corpus)
    ck = str(tmp_path / "ckpt")
    p1 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ck)
    r1 = sorted(map(tuple, p1.run(t)["clusters"].collect()))
    p2 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ck)
    r2 = sorted(map(tuple, p2.run(t)["clusters"].collect()))
    assert r1 == r2
    assert p2.counters == p1.counters
    # every CHECKPOINTABLE stage resumed; cc/counters are timed_only blocks
    # that legitimately recompute from the resumed stage outputs
    assert all(
        e.get("resumed") for e in p2.ckpt.log if not e.get("timed_only")
    )
    assert {e["stage"] for e in p2.ckpt.log if e.get("resumed")} == {
        "conv", "sig", "exact", "cands", "verify", "substr"
    }
    shutil.rmtree(ck, ignore_errors=True)


def test_changed_config_recomputes(spark, corpus, tmp_path):
    """The config-hash gate: a checkpoint written under one DedupConfig
    must NOT be resumed by a pipeline with different parameters."""
    t, _, _ = synth.to_spark(spark, corpus)
    ck = str(tmp_path / "ckpt2")
    p1 = DedupPipeline(spark, DedupConfig(), checkpoint_dir=ck)
    p1.run(t)["clusters"].count()
    p2 = DedupPipeline(spark, DedupConfig(tau=0.6), checkpoint_dir=ck)
    p2.run(t)["clusters"].count()
    assert not any(e.get("resumed") for e in p2.ckpt.log)
    shutil.rmtree(ck, ignore_errors=True)


def test_kill_mid_stage_partition_resume(spark, corpus, tmp_path):
    """North rule 'per-partition lineage': a run killed mid-way through the
    partitioned conv stage must resume computing ONLY the missing
    partitions and still produce a final table identical to a clean run
    (VERDICT r4 next-round #3)."""
    t, _, _ = synth.to_spark(spark, corpus)
    cfg = DedupConfig(resume_partitions=8)

    # clean run = ground truth
    ck0 = str(tmp_path / "ck_clean")
    clean = sorted(
        map(tuple, DedupPipeline(spark, cfg, checkpoint_dir=ck0).run(t)["clusters"].collect())
    )

    # killed run: injected failure after 3 committed partitions
    ck = str(tmp_path / "ck_kill")
    p1 = DedupPipeline(spark, cfg, checkpoint_dir=ck)
    p1.ckpt._fail_after_part_commits = 3
    with pytest.raises(RuntimeError, match="injected failure"):
        p1.run(t)
    import json, os
    partial = json.load(open(os.path.join(ck, "conv", "partial.json")))
    assert len(partial["done"]) == 3 and partial["num_parts"] == 8

    # resume: only the 5 missing partitions recompute; final table matches
    p2 = DedupPipeline(spark, cfg, checkpoint_dir=ck)
    r2 = sorted(map(tuple, p2.run(t)["clusters"].collect()))
    conv_log = [e for e in p2.ckpt.log if e["stage"] == "conv"][0]
    assert conv_log["recomputed_parts"] == 5
    assert r2 == clean
    # the conv manifest records the partition layout; partial.json is gone
    man = json.load(open(os.path.join(ck, "conv", "manifest.json")))
    assert man["num_parts"] == 8 and man["partitioned_by"] == "_part"
    assert not os.path.exists(os.path.join(ck, "conv", "partial.json"))
    # a third run resumes the whole stage without touching partitions
    p3 = DedupPipeline(spark, cfg, checkpoint_dir=ck)
    r3 = sorted(map(tuple, p3.run(t)["clusters"].collect()))
    assert r3 == clean
    assert [e for e in p3.ckpt.log if e["stage"] == "conv"][0].get("resumed")
    shutil.rmtree(ck, ignore_errors=True)
    shutil.rmtree(ck0, ignore_errors=True)
