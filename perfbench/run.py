"""The repository benchmark: the flagship dedup-and-cluster job and its ingest stage.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Workloads (sizes in ``WORKLOADS``):

- ``pipeline``: ``run_pipeline`` over seeded images with planted near-dup
  triples and a 2% hot caption slice, checkpointed to a fresh directory, then
  a second call on the completed checkpoint (the resume). The user's job, run
  once per fresh session as spark-submit runs it.
- ``signatures``: ``extract_signatures`` over seeded images, keeping one hash
  per output row, after WARM_UP_JOBS warm-up jobs and repeated until ``--seconds``
  have passed. The ingest map stage, where the decode, shingle and MinHash
  kernels do nearly all of the work.

The loop is closed: one job at a time, from this process, at ``local[nproc]``.
Session start, input generation and caching, and any warm-up jobs are
set-up and never timed as a job. Every timed job's output is checked, and a
job that raises or fails a check counts as failed.

``--trace 0`` prints the end-to-end metrics: the median job's wall seconds
less stolen time and its CPU seconds (driver JVM plus Python workers), and
the set-up seconds, all scaled to a reference host speed that a fixed
calibration task measures before and after the timed jobs, and peak memory.
``--trace 1`` runs the same set-up and then one job, traced: a span and a
Spark job group around each layer call, with the Spark event log on. It also
times the NumPy kernels outside Spark and the signature stage on one task
against nproc tasks, and prints the per-layer metrics. Layers that a workload
does not run report 0. Tracing overhead is the traced job's raw CPU (or
wall) seconds against the untraced jobs' raw seconds in their report lines.

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a report with the host block and per-job wall, CPU and
stolen seconds. Working files (checkpoints, Spark local dirs, event logs,
spans) go under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

from host import PeakMemory, Usage, calibrate, host_block, nproc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# the Spark workers get one BLAS thread each (session.get_spark sets the same);
# set here too so NumPy in this process, imported before the session, agrees
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

WORKLOADS = {
    # images; multiples of 7 keep every planted triple whole
    "pipeline": 2_800,
    "signatures": 2_800,
}
KERNEL_ROWS = 4_095
# warm-up jobs before timing a warm workload; its first few jobs still speed up
WARM_UP_JOBS = 6
MIN_RECALL = 0.99
MIN_PRECISION = 0.99
# CPU seconds host.calibrate() measured on a quiet 4-core host; the end-to-end
# timings are scaled to that host speed (see end_to_end)
CALIBRATION_REF_S = 0.43


def prepare_dirs() -> dict[str, str]:
    """Fresh working dirs under WORK; point every temp path of this process, the
    JVM and the Python workers there."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "local", "events", "ckpt", "warehouse")}
    for d in ("tmp", "local", "events", "ckpt"):
        shutil.rmtree(dirs[d], ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return dirs


def start_spark(dirs: dict[str, str], cores: int, event_log: bool):
    from lmw_tree_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )


def shutdown_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already shut down
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Jobs:
    """Counts attempted and failed jobs; a job returns (figures, problems)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.ok: list[dict] = []
        self.problems: list[str] = []

    def run(self, job, **kwargs) -> dict | None:
        self.attempted += 1
        try:
            figures, problems = job(**kwargs)
        except Exception as exc:  # a job that raises is a failed job, not a crashed benchmark
            figures, problems = None, [f"{type(exc).__name__}: {exc}"]
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            return None
        self.ok.append(figures)
        return figures


class PipelineWorkload:
    """run_pipeline into a fresh checkpoint dir, then resume from it.

    The timed job is the first job of a fresh session, once per run: the
    flagship is a batch job that spark-submit starts in a new JVM every time,
    so its users pay the JVM, codegen and Python-worker warm-up on each run.
    """

    cold = True

    def __init__(self, spark, seed: int, cores: int, ckpt_root: str):
        from bench import bench_config

        from inputs import image_table, truth_groups

        self.spark = spark
        self.cfg = bench_config()
        self.rows = WORKLOADS["pipeline"]
        self.images = image_table(spark, self.rows, seed, cores).persist()
        self.images.count()
        self.truth = truth_groups(self.rows, seed).set_index("image_id")
        self.ckpt_root = ckpt_root
        self.last_ckpt = None
        self._runs = 0

    def job(self, tracer=None):
        from lmw_tree_spark.plans.pipeline import run_pipeline

        from inputs import dup_pair_scores

        self._runs += 1
        if self.last_ckpt is not None:
            shutil.rmtree(self.last_ckpt, ignore_errors=True)
        ckpt = os.path.join(self.ckpt_root, f"job{self._runs:03d}")
        self.last_ckpt = ckpt
        root = tracer.span("pipeline") if tracer else nullcontext()
        with root:
            usage = Usage()
            res = run_pipeline(self.spark, self.images, self.cfg, checkpoint_dir=ckpt)
            first = res.assignments.toPandas()
            used = usage.since()
        resumed_span = tracer.span("pipeline.resume") if tracer else nullcontext()
        with resumed_span:
            t1 = time.perf_counter()
            again = run_pipeline(self.spark, self.images, self.cfg, checkpoint_dir=ckpt)
            second = again.assignments.toPandas()
            resume = time.perf_counter() - t1

        problems = []
        if len(first) != self.rows:
            problems.append(f"pipeline: {len(first)} assignment rows for {self.rows} inputs")
        objects = res.metrics[-1]["objects"] if res.metrics else -1
        if objects != self.rows:
            problems.append(f"pipeline: emtree objects {objects} != rows {self.rows}")
        first = first.sort_values("image_id").reset_index(drop=True)
        second = second.sort_values("image_id").reset_index(drop=True)
        if not first.equals(second):
            problems.append("pipeline: resumed assignments differ from the first run")
        truth = self.truth.reindex(first["image_id"])
        if truth["truth"].isna().any():
            problems.append("pipeline: assignments hold ids that are not in the input")
            return None, problems
        scores = dup_pair_scores(first["dup_group"], truth["truth"], truth["link"])
        recall, precision = scores["recall"], scores["precision"]
        if recall < MIN_RECALL or precision < MIN_PRECISION:
            problems.append(f"pipeline: dup-pair recall {recall:.4f}, precision {precision:.4f}")
        rmse = res.metrics[-1]["rmse"] if res.metrics else float("nan")
        if not rmse > 0:
            problems.append(f"pipeline: EM rmse {rmse}")
        self.last_assignments = first
        return {
            **used,
            "resume_s": resume,
            "dup_pair_recall": recall,
            "dup_pair_precision": precision,
            "unscored_pairs": scores["unscored_pairs"],
            "unscored_linked": scores["unscored_linked"],
            "em_rmse": rmse,
        }, problems


class SignaturesWorkload:
    """extract_signatures over cached images; one (id, hash) row back per image.

    Timed warm and repeated: this isolates the map stage's steady throughput,
    where a kernel gain shows.
    """

    cold = False

    SAMPLE = 64

    def __init__(self, spark, seed: int, cores: int):
        import numpy as np
        from lmw_tree_spark.operators.signature_stage import (
            SIGNATURES_SCHEMA,
            compute_signature_batch,
        )

        from bench import bench_config

        from inputs import hot_mask, image_batch, image_ids, image_table, index_offset

        self.spark = spark
        self.cfg = bench_config()
        self.rows = WORKLOADS["signatures"]
        self.images = image_table(spark, self.rows, seed, cores).persist()
        self.images.count()
        idx = index_offset(seed) + np.arange(self.rows)
        self.ids = set(image_ids(idx))
        self.hot_ids = sorted(image_ids(idx[hot_mask(idx, seed)]))
        # reference rows: the same kernel on a small in-process batch, so a
        # result that depends on how Spark batches the rows shows up
        sample_idx = idx[:: self.rows // self.SAMPLE][: self.SAMPLE]
        ref = compute_signature_batch(image_batch(sample_idx, seed), self.cfg)
        ref_df = spark.createDataFrame(ref, SIGNATURES_SCHEMA)
        self.reference = self._digest(ref_df).set_index("image_id")["h"]
        self.first = None

    @staticmethod
    def _digest(sigs):
        from pyspark.sql import functions as F

        return sigs.select(
            "image_id",
            F.xxhash64("phash", "simhash", "sig", "minhash").alias("h"),
            F.xxhash64("minhash").alias("mh"),
        ).toPandas()

    def job(self, tracer=None):
        from lmw_tree_spark.operators.signature_stage import extract_signatures

        root = tracer.span("signatures") if tracer else nullcontext()
        with root:
            layer = tracer.span("signature_stage", group="signature_stage") if tracer else nullcontext()
            with layer as rec:
                usage = Usage()
                out = self._digest(extract_signatures(self.images, self.cfg))
                used = usage.since()
                if rec is not None:
                    rec["rows"] = len(out)

        problems = []
        if len(out) != self.rows or set(out["image_id"]) != self.ids:
            problems.append(f"signatures: {len(out)} rows back for {self.rows} inputs")
            return None, problems
        got = out.set_index("image_id")
        if not got["h"].reindex(self.reference.index).equals(self.reference):
            problems.append("signatures: rows differ from the same kernel on an in-process batch")
        hot = got["mh"].reindex(self.hot_ids)
        if hot.nunique() > 1:
            problems.append("signatures: identical hot captions got different MinHash")
        ordered = out.sort_values("image_id").reset_index(drop=True)
        if self.first is None:
            self.first = ordered
        elif not ordered.equals(self.first):
            problems.append("signatures: output differs between jobs on the same input")
        return used, problems


def measure(jobs: Jobs, job, seconds: float) -> None:
    t0 = time.perf_counter()
    while True:
        jobs.run(job)
        if time.perf_counter() - t0 >= seconds:
            return


def end_to_end(jobs: Jobs, setup: dict, peak_mb: float, calibration_s: float,
               cores: int) -> dict:
    """The median job's wall seconds and CPU seconds (driver JVM plus Python
    workers), set-up seconds and peak memory.

    Hypervisor steal on a shared host stretches wall time by tens of percent in
    bursts, so ``wall_s`` is the job's wall time less the CPU seconds stolen
    from it per core, and ``setup_s`` likewise. ``wall_s`` still grows when a
    job loses parallelism (a straggler task, a stage that runs as one task, a
    serial wait on the driver), which ``cpu_s`` does not show. CPU speed also
    drifts with the neighbours' load, so the three timings are scaled by
    CALIBRATION_REF_S / calibration_s, the host's speed during this run against
    the reference. Raw wall, CPU and stolen seconds of each job and of the
    set-up stay in the report line."""
    scale = CALIBRATION_REF_S / calibration_s

    def unstolen(u: dict) -> float:
        return u["wall_s"] - u["steal_s"] / cores

    return {
        "wall_s": (statistics.median(unstolen(j) for j in jobs.ok) * scale, "s"),
        "cpu_s": (statistics.median(j["cpu_s"] for j in jobs.ok) * scale, "s"),
        "setup_s": (unstolen(setup) * scale, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


CHECKPOINT_STAGES = (
    "signatures", "verified_pairs", "dup_groups", "tree", "assignments", "cluster_stats",
)


def per_layer(name: str, tracer, groups: dict, job: dict, stats: dict, kernel: dict,
              scaling: float, session_s: float, gen_s: float, calibration_s: float) -> dict:
    """Per-layer figures from the traced job's spans, the event log and the
    kernel timings. Every name is present for every workload.

    The traced job is the same job an untraced run times, so its tracing
    overhead is ``trace.job_cpu_s`` (or ``trace.job_wall_s``) here against the
    raw ``cpu_s`` (or ``wall_s``) of the untraced jobs in their report line,
    both unscaled, from runs close together in time."""
    from spans import LAYERS

    selfs = tracer.self_times()
    out: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        top = [s for s in tracer.spans if s["group"] == layer and s["end"] is not None]
        g = groups.get(layer, {})
        out[f"{layer}.wall_s"] = (sum(s["end"] - s["start"] for s in top), "s")
        out[f"{layer}.self_s"] = (sum(selfs.get(n, 0.0) for n in {s["name"] for s in top}), "s")
        out[f"{layer}.task_s"] = (g.get("task_s", 0.0), "s")
        out[f"{layer}.shuffle_write_bytes"] = (g.get("shuffle_write_bytes", 0), "bytes")
        out[f"{layer}.shuffle_read_bytes"] = (g.get("shuffle_read_bytes", 0), "bytes")
        out[f"{layer}.spill_bytes"] = (g.get("spill_bytes", 0), "bytes")
        out[f"{layer}.rows_out"] = (sum(s.get("rows", 0) for s in top), "count")
        out[f"{layer}.failed_tasks"] = (g.get("failed_tasks", 0), "count")

    cand = sum(s.get("rows", 0) for s in tracer.by_name("lsh.candidates"))
    verified = sum(s.get("verified", 0) for s in tracer.by_name("lsh.verify"))
    fit = tracer.by_name("emtree.fit")
    iters = sum(s.get("iterations", 0) for s in fit)
    em_loop = tracer.total("emtree.fit") - tracer.total("emtree.sample") - tracer.total("emtree.tsvq_init")
    writes = tracer.by_name("checkpoint.write")
    out.update({
        "lsh.bucket_rows": (stats.get("bucket_rows", 0), "count"),
        "lsh.max_bucket": (stats.get("max_bucket", 0), "count"),
        "lsh.candidates": (cand, "count"),
        "lsh.verified": (verified, "count"),
        "lsh.verify_yield": (verified / cand if cand else 0.0, "ratio"),
        "ccomp.jobs": (groups.get("ccomp", {}).get("jobs", 0), "count"),
        "ccomp.max_component": (stats.get("max_component", 0), "count"),
        "emtree.iter_s": (em_loop / iters if iters else 0.0, "s"),
        "emtree.leaves": (max((s.get("leaves", 0) for s in fit), default=0), "count"),
        "emtree.objects": (max((s.get("objects", 0) for s in fit), default=0), "count"),
        "emtree.rmse": (job.get("em_rmse", 0.0), "bits"),
        "checkpoint.write_s": (tracer.total("checkpoint.write"), "s"),
        "checkpoint.read_s": (tracer.total("checkpoint.read"), "s"),
        "pipeline.resume_s": (job.get("resume_s", 0.0), "s"),
        "pipeline.dup_pair_recall": (job.get("dup_pair_recall", 0.0), "ratio"),
        "pipeline.dup_pair_precision": (job.get("dup_pair_precision", 0.0), "ratio"),
        "pipeline.unscored_pairs": (job.get("unscored_pairs", 0), "count"),
        "pipeline.unscored_linked": (job.get("unscored_linked", 0), "count"),
        "session.start_s": (session_s, "s"),
        "sources.gen_s": (gen_s, "s"),
        "signatures.scaling_eff": (scaling, "ratio"),
        "host.calibration_s": (calibration_s, "s"),
    })
    for stage in CHECKPOINT_STAGES:
        size = sum(s.get("bytes", 0) for s in writes if s.get("stage") == stage)
        out[f"checkpoint.bytes.{stage}"] = (size, "bytes")
    out.update({
        "trace.job_wall_s": (job["wall_s"], "s"),
        "trace.job_cpu_s": (job["cpu_s"], "s"),
        "trace.job_steal_s": (job["steal_s"], "s"),
        "trace.unattributed_s": (selfs.get(name, 0.0), "s"),
    })
    out.update({k: (v, "ms") for k, v in kernel.items()})
    return out


def pipeline_stats(workload: PipelineWorkload) -> dict:
    """LSH bucket sizes on the traced job's signatures, and its largest group."""
    from lmw_tree_spark.operators import lsh
    from lmw_tree_spark.plans.checkpoint import Checkpointer
    from pyspark.sql import functions as F

    sigs = Checkpointer(workload.spark, workload.last_ckpt).read("signatures")
    sizes = lsh.candidate_buckets(sigs, workload.cfg).groupBy("bucket").count()
    row = sizes.agg(F.sum("count").alias("rows"), F.max("count").alias("largest")).first()
    groups = workload.last_assignments.groupby("dup_group").size()
    return {
        "bucket_rows": int(row["rows"]),
        "max_bucket": int(row["largest"]),
        "max_component": int(groups.max()),
    }


def scaling_efficiency(spark, batch, cfg, cores: int) -> float:
    """Signature stage on one task against ``cores`` tasks, same rows and session:
    (t_one / t_all) / cores, 1.0 being linear scaling."""
    from lmw_tree_spark.operators.signature_stage import extract_signatures
    from lmw_tree_spark.sources.images import IMAGES_SCHEMA

    df = spark.createDataFrame(batch, IMAGES_SCHEMA).repartition(cores).persist()
    df.count()

    def seconds(frame) -> float:
        t0 = time.perf_counter()
        extract_signatures(frame, cfg).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    seconds(df)  # warm-up
    t_all = seconds(df)
    t_one = seconds(df.coalesce(1))
    df.unpersist()
    return t_one / t_all / cores


def traced_job(spark, workload, jobs: Jobs, args, cores: int) -> dict:
    """The run's one job, traced, then the figures that need the session."""
    from inputs import image_table
    from spans import Tracer, instrumented

    tracer = Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
    stats = {}
    if isinstance(workload, PipelineWorkload):
        with instrumented(tracer):
            figures = jobs.run(workload.job, tracer=tracer)
        if figures is not None:
            stats = pipeline_stats(workload)
    else:
        figures = jobs.run(workload.job, tracer=tracer)
    tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    workload.images.unpersist()
    batch = image_table(spark, KERNEL_ROWS, args.seed, cores).toPandas()
    return {
        "figures": figures,
        "tracer": tracer,
        "stats": stats,
        "batch": batch,
        "scaling": scaling_efficiency(spark, batch, workload.cfg, cores),
        "app_id": spark.sparkContext.applicationId,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import lmw_tree_spark  # noqa: F401
    except ImportError as exc:
        sys.exit(f"perfbench: the program is not importable from {ROOT}: {exc}")

    from eventlog import read_groups
    from kernels import kernel_costs

    dirs = prepare_dirs()
    cores = nproc()
    jobs = Jobs()
    metrics = traced = warm = None
    with PeakMemory() as mem:
        setup_usage = Usage()
        t_setup = time.perf_counter()
        spark = start_spark(dirs, cores, event_log=bool(args.trace))
        try:
            session_s = time.perf_counter() - t_setup
            t_gen = time.perf_counter()
            if args.workload == "pipeline":
                workload = PipelineWorkload(spark, args.seed, cores, dirs["ckpt"])
            else:
                workload = SignaturesWorkload(spark, args.seed, cores)
            gen_s = time.perf_counter() - t_gen
            if not workload.cold:
                warm = []
                for _ in range(WARM_UP_JOBS):
                    figures, problems = workload.job()
                    if problems:
                        raise RuntimeError("warm-up job failed its checks: " + "; ".join(problems))
                    warm.append(figures)
            setup = setup_usage.since()

            calibration = [calibrate(cores)]
            if args.trace:
                traced = traced_job(spark, workload, jobs, args, cores)
            elif workload.cold:
                jobs.run(workload.job)
            else:
                measure(jobs, workload.job, args.seconds)
            calibration.append(calibrate(cores))
        finally:
            shutdown_spark(spark)
        calibration_s = statistics.mean(calibration)
        if not args.trace and jobs.ok:
            metrics = end_to_end(jobs, setup, mem.peak_mb, calibration_s, cores)
    if traced is not None and traced["figures"] is not None:
        metrics = per_layer(
            args.workload, traced["tracer"],
            read_groups(os.path.join(dirs["events"], traced["app_id"])),
            traced["figures"], traced["stats"], kernel_costs(traced["batch"], workload.cfg),
            traced["scaling"], session_s, gen_s, calibration_s,
        )

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host_block(ROOT),
        "setup": setup,
        "calibration_s": calibration,
        "warmup": warm,
        "jobs": jobs.ok,
        "problems": jobs.problems,
    }
    print(json.dumps(report, default=float), flush=True)
    if metrics is None:
        sys.exit("perfbench: no job completed: " + "; ".join(jobs.problems))
    print(json.dumps({
        "correct": jobs.failed == 0,
        "attempted": jobs.attempted,
        "failed": jobs.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
