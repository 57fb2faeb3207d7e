"""The two workloads. Each is one Spark application in one process, running a
closed loop with one client: the next operation starts when the previous one
has finished. A run times a fixed number of operations after a fixed
warm-up.

A workload function gets a ready session and returns a ``Run``: the timed
operation walls, set-up time, output checks and, in traced runs, the
per-layer numbers. Output checks always run outside the timed windows.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
from datasketches_rust_spark.plans.pipeline import DedupPipeline

from harness import (
    GroupStats,
    cached_rdd_bytes,
    dir_bytes,
    job_group,
    jvm_busy_s,
    jvm_gc,
    lower_median_index,
    median,
)
from layers import boundary_metrics

STAGES = ("signatures", "ids", "rep_keys", "candidates", "verified", "clusters")
MIN_DUP_RECALL = 0.99
MAX_FALSE_MERGE_RATE = 0.001


@dataclass
class Run:
    items_per_op: int
    setup_s: float = 0.0
    walls: list[float] = field(default_factory=list)  # one per measured op
    wall_s: float = 0.0  # end-to-end wall of one unit of work
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    quality: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    # traced runs: metrics known in-process, plus a reader for the event
    # log, which is complete only once the session has stopped
    layers: dict[str, float] = field(default_factory=dict)
    windows: dict[str, tuple[float, float]] = field(default_factory=dict)
    from_event_log: Callable[[dict[str, GroupStats]], dict[str, float]] | None = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


def digest_rows(pdf: pd.DataFrame) -> str:
    """Order-insensitive sha256 of a result table."""
    pdf = pdf[sorted(pdf.columns)]
    lines = sorted("\x1f".join(map(str, row)) for row in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class DigestBook:
    """Result digests of every run in this checkout, keyed by workload,
    seed and result name: a result must read the same on every run."""

    def __init__(self, work: str):
        self.path = os.path.join(work, "digests.json")
        try:
            with open(self.path) as f:
                self.book = json.load(f)
        except FileNotFoundError:
            self.book = {}

    def check(self, key: str, digest: str) -> bool:
        return self.book.setdefault(key, digest) == digest

    def save(self) -> None:
        with open(self.path, "w") as f:
            json.dump(self.book, f, indent=1, sort_keys=True)


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    rss: object  # harness.PeakRss
    digests: DigestBook
    workload: str
    kernel: dict[str, float]  # kernel probe numbers (traced runs only)


def timed_count(seconds: float, nominal_s: float, minimum: int) -> int:
    """How many ops (or passes) a run times: ``seconds`` worth at their
    nominal wall on a 4-core box, and at least ``minimum``. The count
    depends only on the arguments, never on how fast this run happens to
    go, so every run takes its median at the same point of the JVM's
    warm-up."""
    return max(minimum, round(seconds / nominal_s))


# ------------------------------------------------------------------ dedup


# dedup_large_files input: ~12 KB generated source files, so the signature
# kernel and its Arrow boundary carry a large share of each run
DEDUP_FILES = 3000
DEDUP_SIZE_SCALE = 8
DEDUP_WARMUP_OPS = 2
DEDUP_NOMINAL_OP_S = 3.5
DEDUP_MIN_OPS = 3


class TracedPipeline(DedupPipeline):
    """Times each ``_stage`` call and tags its Spark jobs with the job group
    ``<op>.<stage>``; keeps each stage's output for row counts."""

    op = "op"

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.spans: dict[str, float] = {}
        self.outputs: dict = {}

    def _stage(self, name, upstream_fp, compute, materialize=True):
        with job_group(self.spark, f"{self.op}.{name}"):
            t0 = time.perf_counter()
            df, fp = super()._stage(name, upstream_fp, compute, materialize)
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
        self.outputs[name] = df
        return df, fp


def _file_ids(pdf: pd.DataFrame) -> list[str]:
    """sha256 of repo NUL path NUL commit, computed without Spark."""
    return [
        hashlib.sha256(f"{r}\x00{p}\x00{c}".encode()).hexdigest()
        for r, p, c in zip(pdf["repo"], pdf["path"], pdf["commit"])
    ]


def dedup_quality(clusters: pd.DataFrame, ids: pd.DataFrame, n_files: int) -> dict[str, float]:
    """dup_recall: share of exact and near_high files clustered with their
    family root. false_merge_rate: share of base and boilerplate files whose
    cluster holds a file of another family. cc_components: clusters of two
    or more distinct contents."""
    from datasketches_rust_spark.corpus.generator import truth_families

    truth = truth_families(n_files).merge(ids, on="file_seq").merge(clusters, on="file_id")
    cluster_of = truth.set_index("file_seq")["cluster_id"]
    dup = truth[truth["klass"].isin(["exact", "near_high"])]
    recall = (dup["cluster_id"].to_numpy() == cluster_of.loc[dup["family"]].to_numpy()).mean()
    families = truth.groupby("cluster_id")["family"].nunique()
    solo = truth[truth["klass"].isin(["base", "boilerplate"])]
    false_merge = (families.loc[solo["cluster_id"]].to_numpy() > 1).mean()
    contents = truth.groupby("cluster_id")["content_sha"].nunique()
    return {
        "dup_recall": float(recall),
        "false_merge_rate": float(false_merge),
        "cc_components": float((contents > 1).sum()),
    }


def run_dedup(ctx: Context, session_s: float) -> Run:
    from datasketches_rust_spark.corpus.generator import corpus_spark

    spark = ctx.spark
    run = Run(items_per_op=DEDUP_FILES)
    pipeline_cls = TracedPipeline if ctx.trace else DedupPipeline
    corpus_path = os.path.join(ctx.work, "corpus")
    traced_ops: list[dict] = []

    def pipeline_op(tag: str) -> tuple[float, pd.DataFrame]:
        """One ``DedupPipeline.run`` until its clusters are materialised;
        returns the wall and the collected clusters."""
        pipe = pipeline_cls(spark)
        before = {}
        if ctx.trace:
            pipe.op = tag
            before = cached_rdd_bytes(spark)
        start_ms = time.time() * 1000.0
        with job_group(spark, tag):
            t0 = time.perf_counter()
            clusters = pipe.run(pipe_input)
            wall = time.perf_counter() - t0
        run.windows[tag] = (start_ms, time.time() * 1000.0)
        with job_group(spark, "bench"):
            pdf = clusters.toPandas()
            if ctx.trace:
                t_book = time.perf_counter()
                rows = {s: df.count() for s, df in pipe.outputs.items()}
                accepted = pipe.outputs["verified"].where("accepted").count()
                ckpt_bytes = sum(
                    v for rid, v in cached_rdd_bytes(spark).items() if rid not in before
                )
                traced_ops.append(
                    {"tag": tag, "wall": wall, "spans": dict(pipe.spans), "rows": rows,
                     "accepted": accepted, "ckpt_bytes": ckpt_bytes,
                     "book_s": time.perf_counter() - t_book}
                )
        key = f"{ctx.workload}:{DEDUP_FILES}x{DEDUP_SIZE_SCALE}:{ctx.seed}:clusters"
        if not ctx.digests.check(key, digest_rows(pdf)):
            run.fail(f"{tag}: clusters differ from an earlier run of seed {ctx.seed}")
        jvm_gc(spark)
        return wall, pdf

    # set-up: corpus generation, then the warm-up runs (the first one's
    # output carries the quality checks)
    t_setup = time.perf_counter()
    with job_group(spark, "setup"):
        corpus_spark(spark, DEDUP_FILES, seed=ctx.seed, size_scale=DEDUP_SIZE_SCALE).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    pipe_input = corpus.drop("file_seq")
    run.attempted += DEDUP_WARMUP_OPS
    warm = [pipeline_op(f"warm{w}") for w in range(1, DEDUP_WARMUP_OPS + 1)]
    run.notes["warmup_walls_s"] = [wall for wall, _ in warm]
    clusters = warm[0][1]
    run.setup_s = session_s + time.perf_counter() - t_setup
    traced_ops.clear()

    with job_group(spark, "bench"):
        meta = corpus.select("file_seq", "repo", "path", "commit").toPandas()
    ids = pd.DataFrame({"file_seq": meta["file_seq"], "file_id": _file_ids(meta)})
    run.quality = dedup_quality(clusters, ids, DEDUP_FILES)
    if run.quality["dup_recall"] < MIN_DUP_RECALL:
        run.fail(f"dup_recall {run.quality['dup_recall']:.4f} < {MIN_DUP_RECALL}")
    if run.quality["false_merge_rate"] > MAX_FALSE_MERGE_RATE:
        run.fail(
            f"false_merge_rate {run.quality['false_merge_rate']:.4f} > {MAX_FALSE_MERGE_RATE}"
        )

    def measured_op(k: int) -> None:
        run.attempted += 1
        try:
            run.walls.append(pipeline_op(f"op{k}")[0])
        except Exception as exc:  # noqa: BLE001 - one failed op must not end the run
            run.fail(f"op{k} raised {type(exc).__name__}: {exc}")

    busy = jvm_busy_s(spark)
    with ctx.rss.sampling():
        for k in range(1, timed_count(ctx.seconds, DEDUP_NOMINAL_OP_S, DEDUP_MIN_OPS) + 1):
            measured_op(k)
    run.notes["jvm_s"] = {k: v - busy[k] for k, v in jvm_busy_s(spark).items()}
    run.wall_s = median(run.walls)
    run.notes["corpus_parquet_bytes"] = dir_bytes(corpus_path)

    if ctx.trace and traced_ops:
        _dedup_layers(ctx, run, traced_ops)
        _checkpoint_probe(ctx, run, pipe_input, digest_rows(clusters))
        run.layers.update(
            boundary_metrics(
                spark, pipe_input, ctx.kernel["kernel.signature_batch_ms"],
                ctx.kernel["kernel.batch_bytes"],
            )
        )
    return run


def _checkpoint_probe(ctx: Context, run: Run, pipe_input, clusters_digest: str) -> None:
    """One run with a fresh durable checkpoint dir, so every stage goes
    through the stage runner's write path (parquet + meta write, re-read and
    count). Its clusters must equal those of the local-checkpoint runs."""
    ckpt_dir = os.path.join(ctx.work, "checkpoints")
    run.attempted += 1
    try:
        with job_group(ctx.spark, "probe.checkpoint"):
            t0 = time.perf_counter()
            clusters = DedupPipeline(ctx.spark, checkpoint_dir=ckpt_dir).run(pipe_input)
            run.layers["pipeline.checkpoint_run_s"] = time.perf_counter() - t0
        with job_group(ctx.spark, "bench"):
            pdf = clusters.toPandas()
    except Exception as exc:  # noqa: BLE001 - reported as a failed op
        run.fail(f"durable-checkpoint run raised {type(exc).__name__}: {exc}")
        return
    run.layers["pipeline.checkpoint_dir_bytes"] = float(dir_bytes(ckpt_dir))
    if digest_rows(pdf) != clusters_digest:
        run.fail("durable-checkpoint run: clusters differ from the local-checkpoint runs")


def _dedup_layers(ctx: Context, run: Run, ops: list[dict]) -> None:
    """Per-stage numbers of the measured run with the median wall, so the
    stage walls and the unattributed rest add up to that run's wall."""
    op = ops[lower_median_index([o["wall"] for o in ops])]
    rows, cands = op["rows"], op["rows"].get("candidates", 0)
    layers = run.layers
    layers["pipeline.wall_s"] = op["wall"]
    for s in STAGES:
        layers[f"pipeline.{s}.wall_s"] = op["spans"].get(s, 0.0)
        layers[f"pipeline.{s}.rows_out"] = float(rows.get(s, 0))
    layers["pipeline.unattributed_s"] = op["wall"] - sum(op["spans"].values())
    layers["pipeline.checkpoint_bytes"] = float(op["ckpt_bytes"])
    layers["lsh.rep_keys"] = float(rows.get("rep_keys", 0))
    layers["lsh.candidate_pairs"] = float(cands)
    layers["verify.accepted_pairs"] = float(op["accepted"])
    layers["verify.accept_ratio"] = op["accepted"] / cands if cands else 0.0
    layers["cc.components"] = run.quality["cc_components"]
    layers["trace.overhead_s"] = median([o["book_s"] for o in ops])
    tag = op["tag"]

    def from_event_log(groups: dict[str, GroupStats]) -> dict[str, float]:
        out, jobs = {}, groups[tag].jobs
        for s in STAGES:
            g = groups[f"{tag}.{s}"]
            jobs += g.jobs
            out.update(g.as_metrics(f"pipeline.{s}"))
        out["pipeline.jobs"] = float(jobs)
        return out

    run.from_event_log = from_event_log


# ------------------------------------------------------------ sketch queries


def _doc_file_id(source: str, doc_id: int) -> str:
    """The file id the dedup engine gives a documents row (``__spark_entry__``
    maps source → repo, doc_id → path, and a constant commit)."""
    return hashlib.sha256(f"{source}\x00{doc_id}\x00head".encode()).hexdigest()


def planted_recall(pairs: pd.DataFrame, docs: pd.DataFrame, planted) -> float:
    """Share of planted (source, copy) documents linked by a reported pair.
    Pairs are matched by content, since the engine reports one file per
    distinct content."""
    group = {t: i for i, t in enumerate(dict.fromkeys(docs["text"]))}
    text_of = dict(zip(docs["doc_id"], docs["text"]))
    by_fid = {
        _doc_file_id(s, d): group[t] for s, d, t in zip(docs["source"], docs["doc_id"], docs["text"])
    }
    linked = {
        frozenset((by_fid[a], by_fid[b])) for a, b in zip(pairs["file_id_a"], pairs["file_id_b"])
    }
    hits = [
        frozenset((group[text_of[s]], group[text_of[c]])) in linked for s, c in planted
    ]
    return sum(hits) / len(hits) if hits else 1.0


# Headline queries whose output holds a distinct count estimated by a
# k = 16384 theta sketch: {query: estimated column}. The sketch_queries
# tables put these sketches in estimation mode, so the column is checked
# against DuckDB's exact count within ESTIMATE_TOLERANCE (five standard
# errors of 1/sqrt(k)) and every other column for equality.
ESTIMATED = {"theta_distinct_orders": "n_distinct", "tuple_distinct_sum": "n_distinct_orders"}
ESTIMATE_TOLERANCE = 5 / 16384**0.5


def oracle_check(tables: str, outputs: dict[str, pd.DataFrame]) -> dict[str, float | None]:
    """Compare every query output that has an ``oracle_sql()`` entry with
    DuckDB over the same tables: {query: error}. The error is 0.0 for an
    exact match, the largest relative error of the estimated column for the
    ``ESTIMATED`` queries whose other columns match, and None otherwise."""
    import duckdb

    import __spark_entry__ as entry
    from scripts.check_correctness import normalize
    from tables import TABLE_ROWS

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in TABLE_ROWS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        result = {}
        for name, got in outputs.items():
            if name not in oracles:
                continue
            g, e = normalize(got), normalize(con.sql(oracles[name]).df())
            result[name] = None
            if list(g.columns) != list(e.columns) or len(g) != len(e):
                continue
            est = ESTIMATED.get(name)
            if est is None:
                result[name] = 0.0 if g.equals(e) else None
            elif g.drop(columns=est).equals(e.drop(columns=est)):
                result[name] = float(((g[est] - e[est]).abs() / e[est]).max())
        return result
    finally:
        con.close()


QUERY_NOMINAL_PASS_S = 10.0
QUERY_MIN_PASSES = 1


def run_queries(ctx: Context, session_s: float) -> Run:
    import __spark_entry__ as entry
    from bench import HEADLINE
    from tables import TABLE_ROWS, write_tables

    spark = ctx.spark
    queries = entry.queries()
    run = Run(items_per_op=len(HEADLINE))
    tables = os.path.join(ctx.work, "tables")
    sizes = "x".join(str(n) for n in TABLE_ROWS.values())
    per_query: dict[str, list[tuple[float, str]]] = {q: [] for q in HEADLINE}

    # set-up: tables, then one warm-up pass that collects every result for
    # the digest, oracle and recall checks
    t_setup = time.perf_counter()
    planted = write_tables(tables, ctx.seed)
    outputs: dict[str, pd.DataFrame] = {}
    for q in HEADLINE:
        run.attempted += 1
        try:
            with job_group(spark, f"warm.{q}"):
                outputs[q] = queries[q](spark, tables).toPandas()
        except Exception as exc:  # noqa: BLE001 - one failed query must not end the run
            run.fail(f"warm-up {q} raised {type(exc).__name__}: {exc}")
    run.setup_s = session_s + time.perf_counter() - t_setup
    digests = {q: digest_rows(pdf) for q, pdf in outputs.items()}
    run.notes["result_rows"] = {q: len(pdf) for q, pdf in outputs.items()}
    for q, d in digests.items():
        if not ctx.digests.check(f"{ctx.workload}:{sizes}:{ctx.seed}:{q}", d):
            run.fail(f"{q}: result differs from an earlier run of seed {ctx.seed}")

    def one_query(p: int, q: str) -> None:
        """One headline query, its result collected to the driver; the
        result's digest must equal the warm-up pass's."""
        tag = f"pass{p}.{q}"
        run.attempted += 1
        try:
            with job_group(spark, tag):
                t0 = time.perf_counter()
                pdf = queries[q](spark, tables).toPandas()
                wall = time.perf_counter() - t0
            per_query[q].append((wall, tag))
            run.walls.append(wall)
            if digest_rows(pdf) != digests.get(q):
                run.fail(f"{tag}: result differs from the warm-up pass")
        except Exception as exc:  # noqa: BLE001 - one failed query must not end the run
            run.fail(f"{tag} raised {type(exc).__name__}: {exc}")

    busy = jvm_busy_s(spark)
    with ctx.rss.sampling():
        for p in range(1, timed_count(ctx.seconds, QUERY_NOMINAL_PASS_S, QUERY_MIN_PASSES) + 1):
            for q in HEADLINE:
                one_query(p, q)
    run.notes["jvm_s"] = {k: v - busy[k] for k, v in jvm_busy_s(spark).items()}
    # one pass over the queries, from each query's (lower) median execution
    picked = {
        q: v[lower_median_index([w for w, _ in v])] for q, v in per_query.items() if v
    }
    run.notes["query_walls_s"] = {q: w for q, (w, _) in picked.items()}
    if len(picked) == len(HEADLINE):
        run.wall_s = sum(w for w, _ in picked.values())

    # checks outside the timed window
    errors = oracle_check(tables, outputs)
    run.notes["oracle_error"] = errors
    for q, err in errors.items():
        limit = ESTIMATE_TOLERANCE if q in ESTIMATED else 0.0
        if err is None or err > limit:
            run.fail(f"{q}: differs from its DuckDB oracle (error {err} > {limit:.4g})")
    docs = pd.read_parquet(os.path.join(tables, "documents.parquet"))
    if "lsh_dup_pairs_est" in outputs:
        run.quality["dup_recall"] = planted_recall(outputs["lsh_dup_pairs_est"], docs, planted)
        if run.quality["dup_recall"] < MIN_DUP_RECALL:
            run.fail(f"dup_recall {run.quality['dup_recall']:.4f} < {MIN_DUP_RECALL}")

    if ctx.trace:
        for q, (wall, _) in picked.items():
            run.layers[f"query.{q}.wall_s"] = wall

        def from_event_log(groups: dict[str, GroupStats]) -> dict[str, float]:
            out = {}
            for q, (_, tag) in picked.items():
                out[f"query.{q}.jobs"] = float(groups[tag].jobs)
                out[f"query.{q}.shuffle_bytes"] = float(groups[tag].shuffle_write)
            return out

        run.from_event_log = from_event_log
    return run
