"""End-to-end dedup pipeline tests on the deterministic corpus.

Correctness anchors (SURVEY.md §5 carry-over):
- per-row invariant: sha256(content) from the generator == Spark F.sha2;
- dup-pair recall >= 0.99 vs the exact-Jaccard oracle at true J >= 0.8;
- no false merges across unrelated families (boilerplate trap);
- resume: second run with same checkpoint dir reuses every stage and
  produces identical clusters.
"""

import logging
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketches_rust_spark.config import PAIR_BYTES, PipelineConfig
from datasketches_rust_spark.corpus.generator import (
    content_sha_pandas,
    corpus_spark,
    gen_batch,
    truth_families,
    truth_pairs,
)
from datasketches_rust_spark.plans.pipeline import DedupPipeline

N_FILES = 2000
SEED = 42
CFG = PipelineConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_spark(spark, N_FILES, seed=SEED, partitions=8).cache()


@pytest.fixture(scope="module")
def clusters_pdf(spark, corpus):
    pipe = DedupPipeline(spark, CFG)
    clusters = pipe.run(corpus.drop("file_seq"))
    # map back to generator ids for truth joins
    ids = corpus.select(
        F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("file_id"),
        "file_seq",
    )
    return clusters.join(ids, "file_id").toPandas()


def test_per_row_invariant_sha256(spark, corpus):
    """Generator-recorded sha256(content) == Spark F.sha2(content, 256)."""
    spark_shas = (
        corpus.select("file_seq", F.sha2("content", 256).alias("sha"))
        .orderBy("file_seq")
        .toPandas()
    )
    local = gen_batch(np.arange(N_FILES), SEED)
    local_shas = content_sha_pandas(local["content"])
    assert (spark_shas["sha"].to_numpy() == local_shas.to_numpy()).all()


def test_recall_against_exact_jaccard_oracle(clusters_pdf):
    truth = truth_pairs(SEED, N_FILES)
    must = truth[truth.true_jaccard >= CFG.jaccard_threshold]
    cl = clusters_pdf.set_index("file_seq")["cluster_id"]
    same = (cl.loc[must.seq_a].to_numpy() == cl.loc[must.seq_b].to_numpy())
    recall = same.mean()
    assert recall >= 0.99, f"recall {recall:.4f} over {len(must)} truth pairs"


def test_no_false_merges_across_families(clusters_pdf):
    """Boilerplate-trap files (shared 20-line license header, unrelated
    bodies) must not cluster together, and clusters must not span
    unrelated families in general."""
    fams = truth_families(N_FILES)
    df = clusters_pdf.merge(fams, on="file_seq")
    traps = df[df.klass == "boilerplate"]
    sizes = traps.groupby("cluster_id").size()
    assert (sizes == 1).all(), "boilerplate files merged into a cluster"
    # any cluster containing >1 family must be explainable by a truth pair
    # with true J >= 0.5 (borderline links); unrelated merges are bugs
    multi = df.groupby("cluster_id")["family"].nunique()
    bad_clusters = multi[multi > 1].index
    truth = truth_pairs(SEED, N_FILES)
    linked = set(map(tuple, truth[truth.true_jaccard >= 0.5][["seq_a", "seq_b"]].values))
    for cid in bad_clusters:
        members = df[df.cluster_id == cid]
        fams_in = members.family.unique()
        # every pair of families in the cluster needs some linking evidence
        for i, fa in enumerate(fams_in):
            for fb in fams_in[i + 1:]:
                a_ids = members[members.family == fa].file_seq
                b_ids = members[members.family == fb].file_seq
                found = any(
                    (min(x, y), max(x, y)) in linked for x in a_ids for y in b_ids
                )
                assert found, f"cluster {cid[:12]} merges unrelated families {fa},{fb}"


def test_exact_dup_mega_family_single_cluster(clusters_pdf):
    """ids 0..63 are byte-identical → exactly one cluster (skew path)."""
    mega = clusters_pdf[clusters_pdf.file_seq < 64]
    assert mega.cluster_id.nunique() == 1
    assert mega.content_sha.nunique() == 1


def test_checkpoint_resume_identical_and_reused(spark, corpus, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    pipe1 = DedupPipeline(spark, CFG, checkpoint_dir=ckpt)
    out1 = pipe1.run(corpus.drop("file_seq")).orderBy("file_id").toPandas()

    pipe2 = DedupPipeline(spark, CFG, checkpoint_dir=ckpt)
    out2 = pipe2.run(corpus.drop("file_seq")).orderBy("file_id").toPandas()
    pd.testing.assert_frame_equal(out1, out2)

    metrics = spark.read.parquet(f"{ckpt}/_metrics").toPandas()
    second = metrics[metrics.reused]
    # every stage of the second run resumed from checkpoint
    assert set(second.stage) >= {"signatures", "rep_keys", "candidates", "verified", "clusters"}

    # config change breaks the fingerprint chain → stages recompute
    pipe3 = DedupPipeline(spark, CFG.with_(kmv_k=128), checkpoint_dir=ckpt)
    pipe3.run(corpus.drop("file_seq"))
    m3 = spark.read.parquet(f"{ckpt}/_metrics").toPandas()
    assert not m3[m3.input_fingerprint.str.startswith(str(CFG.with_(kmv_k=128).cfg_hash()))].reused.any()


def test_hot_lsh_bucket_star_path(spark):
    """Hundreds of *distinct* near-identical contents (post-exact-collapse
    hot bucket) must exceed max_bucket_size, exercise the star path, and
    still form one cluster with full recall."""
    base = " ".join(f"tok{i}" for i in range(400))
    rows = []
    for i in range(300):
        # one unique token appended → distinct contents, J ≈ 396/398 ≈ 0.995
        rows.append((f"org/r{i}", f"src/f{i}.py", f"{i:040x}", "python",
                     base + f" unique_{i}"))
    for i in range(50):  # unrelated controls
        rows.append((f"org/u{i}", f"src/u{i}.py", f"{i:040x}", "python",
                     " ".join(f"zz{i}_{j}" for j in range(400))))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    cfg = CFG.with_(max_bucket_size=50)  # force the star path
    out = DedupPipeline(spark, cfg).run(corpus).toPandas()
    near = out[out.file_id.isin(
        out.merge(corpus.select(
            F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("file_id"),
            "path").toPandas(), on="file_id").query("path.str.startswith('src/f')").file_id
    )]
    assert near.cluster_id.nunique() == 1, "hot bucket must collapse to one cluster"
    ctrl = out[~out.file_id.isin(near.file_id)]
    assert ctrl.cluster_id.nunique() == len(ctrl), "controls must stay singletons"


def test_signature_stage_is_shuffle_free(spark, corpus):
    """The stage-1 physical plan must contain no Exchange (map-side only)."""
    from datasketches_rust_spark.operators.signatures import compute_signatures

    plan = compute_signatures(corpus.drop("file_seq"), CFG)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_rep_payload_attach_is_wide_shuffle_free(spark, corpus):
    """The broadcast payload attach must be a BroadcastHashJoin over the
    signature scan with NO hash-partitioning exchange — the wide kmv/band
    rows are scanned in place, never re-shuffled (round-3 VERDICT: the
    reps exchange was the pipeline's one bus-bound stage)."""
    from datasketches_rust_spark.operators.lsh import exact_rep_keys, rep_payload
    from datasketches_rust_spark.operators.signatures import compute_signatures

    sigs = compute_signatures(corpus.drop("file_seq"), CFG).localCheckpoint(eager=True)
    keys = exact_rep_keys(
        sigs.select("file_id", "content_sha")
    ).localCheckpoint(eager=True)
    attached = rep_payload(sigs, keys, ["bands"])
    plan = attached._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # and it selects exactly the rep rows with the requested columns
    n_distinct = sigs.select("content_sha").distinct().count()
    assert attached.columns == ["content_sha", "bands"]
    assert attached.count() == n_distinct


def test_rep_payload_fallback_path_identical(spark, corpus):
    """cfg.broadcast_rep_payload=False (the big-key-set fallback: classic
    materialized shuffle-hash reps stage) must produce identical clusters."""
    a = (
        DedupPipeline(spark, CFG)
        .run(corpus.drop("file_seq"))
        .orderBy("file_id")
        .toPandas()
    )
    b = (
        DedupPipeline(spark, CFG.with_(broadcast_rep_payload=False))
        .run(corpus.drop("file_seq"))
        .orderBy("file_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_pipeline_containment_threads_ndocs_hint(spark, corpus, monkeypatch):
    """DedupPipeline.containment passes the ids stage's measured row count
    as containment_pairs' n_docs hint (round-4 VERDICT ask #7) — no
    sizing count() over the corpus — and matches the direct operator."""
    import datasketches_rust_spark.plans.pipeline as P
    from datasketches_rust_spark.operators.substring import (
        containment_pairs as direct_cp,
    )

    captured = {}
    orig = P.containment_pairs

    def spy(docs, **kw):
        captured.update(kw)
        return orig(docs, **kw)

    monkeypatch.setattr(P, "containment_pairs", spy)
    pipe = DedupPipeline(spark, CFG)
    c = corpus.drop("file_seq")
    out = {tuple(r) for r in pipe.containment(c).collect()}
    assert captured["n_docs"] == c.count()

    docs = c.selectExpr(
        "sha2(concat_ws('\x00', repo, path, commit), 256) AS file_id", "content"
    )
    expect = {
        tuple(r)
        for r in direct_cp(
            docs, id_col="file_id", text_col="content", window=CFG.substr_window
        ).collect()
    }
    assert out == expect


def test_rep_payload_auto_mode_resolves_from_key_count(spark, corpus, monkeypatch):
    """broadcast_rep_payload=None derives the rep-payload path from the
    measured rep-key count (round-4 ADVICE #3: no static knob to forget):
    the default finds candidates on the driver, a limit of 2 x n_keys keeps
    the Spark broadcast path, a limit of 1 forces the shuffle fallback —
    all with identical clusters. The same limit picks the
    connected-components path from the verified row count: the default
    clusters on the driver, a limit of 1 runs the star loop. On the
    driver path, verify goes to Spark past DRIVER_VERIFY_PAIRS candidates,
    and both stages do when the buckets emit more pairs than the driver
    budget holds. Each run records its decisions with the numbers behind
    them; a failing duplicate probe fails the broadcast path."""
    import datasketches_rust_spark.plans.pipeline as P

    calls = []
    for name in (
        "candidate_pairs_on_driver",
        "candidate_pairs",
        "verify_pairs_on_driver",
        "verify_pairs",
        "components_on_driver",
        "connected_components",
    ):

        def spy(first, *args, _name=name, _orig=getattr(P, name), **kw):
            calls.append(_name)
            return _orig(first, *args, **kw)

        monkeypatch.setattr(P, name, spy)

    def run(**kw):
        calls.clear()
        pipe = DedupPipeline(spark, CFG.with_(broadcast_rep_payload=None, **kw))
        out = pipe.run(corpus.drop("file_seq")).orderBy("file_id").toPandas()
        return pipe, list(calls), out

    pipe, path, a = run()
    assert path == ["candidate_pairs_on_driver", "verify_pairs_on_driver", "components_on_driver"]
    # distinct contents; pairs the buckets emit; distinct candidate pairs
    n_keys, n_emitted, n_verified = 1744, 9452, 2154
    # driver budget: maxResultSize 1g (< 15M keys x 100 B); 2,344 B per rep
    max_pairs = (1 << 30) // PAIR_BYTES
    assert pipe.decisions == [
        ("rep_payload", "driver", n_keys, min(P.DRIVER_REPS, (1 << 30) // 2344)),
        ("candidates", "driver", n_emitted, max_pairs),
        ("verified", "driver", n_verified, P.DRIVER_VERIFY_PAIRS),
        ("clusters", "driver", n_verified, 15_000_000),
    ]
    assert pipe.rows["rep_keys"] == n_keys and pipe.rows["verified"] == n_verified

    pipe, path, b = run(broadcast_key_limit=2 * n_keys)
    assert path == ["candidate_pairs", "verify_pairs", "components_on_driver"]
    assert pipe.decisions[0] == ("rep_payload", "broadcast", n_keys, 2 * n_keys)
    pd.testing.assert_frame_equal(a, b)

    pipe, path, c = run(broadcast_key_limit=1)
    assert path == ["candidate_pairs", "verify_pairs", "connected_components"]
    assert pipe.decisions == [
        ("rep_payload", "shuffle", n_keys, 1),
        ("clusters", "star", n_verified, 1),
    ]
    pd.testing.assert_frame_equal(a, c)

    # past the measured verify crossover, the driver's candidates go to
    # Spark's verify_pairs
    monkeypatch.setattr(P, "DRIVER_VERIFY_PAIRS", n_verified - 1)
    pipe, path, d = run()
    assert path == ["candidate_pairs_on_driver", "verify_pairs", "components_on_driver"]
    assert pipe.decisions[2] == ("verified", "spark", n_verified, n_verified - 1)
    pd.testing.assert_frame_equal(a, d)

    # more emitted pairs than the driver budget holds: both stages on Spark
    monkeypatch.setattr(P, "PAIR_BYTES", 1 << 30)
    pipe, path, e = run()
    assert path == [
        "candidate_pairs_on_driver",
        "candidate_pairs",
        "verify_pairs",
        "components_on_driver",
    ]
    assert pipe.decisions[1:3] == [
        ("candidates", "spark", n_emitted, 1),
        ("verified", "spark", n_verified, 1),
    ]
    assert pipe.rows["verified"] == n_verified
    pd.testing.assert_frame_equal(a, e)

    # the broadcast path's lazy duplicate probe: its error is not lost
    def failing_probe(ids):
        raise RuntimeError("probe failed")

    monkeypatch.setattr(P, "has_duplicate_id_rows", failing_probe)
    with pytest.raises(RuntimeError, match="probe failed"):
        DedupPipeline(
            spark, CFG.with_(broadcast_rep_payload=None, broadcast_key_limit=2 * n_keys)
        ).run(corpus.drop("file_seq"))


@pytest.fixture(scope="module")
def checkpointed(spark, corpus, tmp_path_factory):
    """One complete durable-checkpoint run: (its checkpoint dir, its
    clusters). Tests that break a stage work on a copy of the dir."""
    ckpt = tmp_path_factory.mktemp("ckpt") / "ckpt"
    out = (
        DedupPipeline(spark, CFG, checkpoint_dir=str(ckpt))
        .run(corpus.drop("file_seq"))
        .orderBy("file_id")
        .toPandas()
    )
    return ckpt, out


def _rerun_broken_candidates(spark, corpus, checkpointed, tmp_path, caplog, breaker):
    """Copy the checkpoint, break its candidates stage with ``breaker``,
    resume, and check that exactly that stage recomputed and that the
    clusters are unchanged; returns the warnings naming candidates."""
    src, out1 = checkpointed
    ckpt = tmp_path / "ckpt"
    shutil.copytree(src, ckpt)
    breaker(ckpt)
    with caplog.at_level(logging.WARNING, logger="datasketches_rust_spark.plans.pipeline"):
        out2 = (
            DedupPipeline(spark, CFG, checkpoint_dir=str(ckpt))
            .run(corpus.drop("file_seq"))
            .orderBy("file_id")
            .toPandas()
        )
    pd.testing.assert_frame_equal(out1, out2)

    m = spark.read.parquet(f"{ckpt}/_metrics").toPandas()
    assert m[m.stage == "signatures"].reused.sum() == 1
    assert len(m[m.stage == "candidates"]) == 2
    assert not m[m.stage == "candidates"].reused.any()
    return [r.getMessage() for r in caplog.records if "candidates" in r.getMessage()]


def _overwrite_parts(d):
    parts = list(d.glob("part-*"))
    assert parts
    for f in parts:
        f.write_bytes(b"not parquet")


def test_corrupt_stage_meta_recomputes_that_stage(spark, corpus, checkpointed, tmp_path, caplog):
    """A corrupt ``<stage>__meta`` parquet makes resume recompute that
    stage (logging which and why); stages upstream resume, and the
    clusters are identical."""
    logs = _rerun_broken_candidates(
        spark, corpus, checkpointed, tmp_path, caplog,
        lambda ckpt: _overwrite_parts(ckpt / "candidates__meta"),
    )
    ckpt = tmp_path / "ckpt"
    assert logs == [
        f"stage candidates: recomputing checkpoint, unreadable {ckpt}/candidates__meta (Py4JJavaError)"
    ]


# how to break the candidates checkpoint -> the reason resume must log
BREAKERS = {
    # the stage's own parquet is garbage while its meta still matches
    "parquet": (
        lambda ckpt: _overwrite_parts(ckpt / "candidates"),
        "unreadable {ckpt}/candidates (Py4JJavaError)",
    ),
    "meta_missing": (
        lambda ckpt: shutil.rmtree(ckpt / "candidates__meta"),
        "unreadable {ckpt}/candidates__meta (AnalysisException)",
    ),
    # a write interrupted before Spark's commit marker
    "no_success": (
        lambda ckpt: (ckpt / "candidates" / "_SUCCESS").unlink(),
        "no _SUCCESS in {ckpt}/candidates",
    ),
}


@pytest.mark.parametrize("broken", sorted(BREAKERS))
def test_broken_stage_checkpoint_recomputes_that_stage(
    spark, corpus, checkpointed, tmp_path, caplog, broken
):
    """Resume recomputes a stage whose checkpoint is unusable — corrupt
    data files, no meta, or no ``_SUCCESS`` — and logs which and why."""
    breaker, reason = BREAKERS[broken]
    logs = _rerun_broken_candidates(spark, corpus, checkpointed, tmp_path, caplog, breaker)
    ckpt = tmp_path / "ckpt"
    assert logs == [f"stage candidates: recomputing checkpoint, {reason.format(ckpt=ckpt)}"]


def test_warm_pipeline_run_compiles_no_new_classes(spark, corpus):
    """Spark's codegen cache holds the pipeline's whole plan set: a second
    run in the same session reuses the classes the first one generated
    instead of recompiling them (with Spark's default 100-entry cache a
    warm run recompiled ~130)."""
    metric = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    c = corpus.drop("file_seq")
    DedupPipeline(spark, CFG).run(c)
    before = metric.METRIC_COMPILATION_TIME().getCount()
    DedupPipeline(spark, CFG).run(c)
    assert metric.METRIC_COMPILATION_TIME().getCount() - before <= 10
