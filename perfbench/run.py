"""Layered extraction benchmark.

Drives the engine from outside, through its public functions, on
``local[nproc]`` from one process, and prints one JSON result line:

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 15 --trace 0

Run it from the repository root. Each invocation:

1. generates the workload's corpus from ``--seed`` and its golden spans
   (``corpus.make_golden``, spread over a few processes), off every clock;
2. creates the Spark session and warms it up (``setup_s``);
3. after the workload's untimed warm passes, repeats timed passes from clean
   state until ``--seconds`` of pass time have been measured, checking every
   pass's output against the golden off the clock;
4. prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
   stdout line: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1``.

Every run writes its context, passes and all its metrics (including those
only some workloads have) to ``.perfbench_out/`` at the repository root. A
traced run runs its passes with the Spark event log on and times each layer
from the benchmark side (``layers.py``); its ``spark.trace_overhead_frac``
compares with the untraced run of the same workload and seed, taken from
that run's record or, when there is none, made first in a child process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass(frozen=True)
class Workload:
    n_docs: int
    corpus_kw: dict = field(default_factory=dict)
    # > 0: the pass is jobs/extract.py's checkpointed path over this many
    # buckets, JOB_BUCKETS_PER_WAVE a wave; 0: one run_extraction pass.
    n_buckets: int = 0
    # untimed passes over the corpus before the timed ones
    warm_passes: int = 0


# Generator parameters are fixed here; only the seed varies between runs.
# BENCHMARK.json says why each workload is there.
WORKLOADS = {
    # make_corpus defaults (media pool 0.8, skew 0.02x20, no pdf): the OCR
    # kernel stage is most of the pass.
    "extract_mixed": Workload(n_docs=2000, warm_passes=2),
    # The checkpointed job path with the job's default 8 buckets per wave
    # (6 waves): per-wave rescans, kernel recomputation, output and ledger
    # writes. Half the documents carry a pdf page, so pdf layout parsing is
    # measured too. One pass takes well over the 15 s a run measures, so
    # every run times exactly one.
    "job_waves": Workload(
        n_docs=1000, corpus_kw=dict(media_pool_per_doc=0.8, pdf_fraction=0.5), n_buckets=48
    ),
}

WARMUP_DOCS = 32
JOB_BUCKETS_PER_WAVE = 8  # jobs/extract.py's --buckets-per-wave default


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def corpus_shape(docs, media) -> dict:
    kinds = [s["kind"] for spans in docs["spans"] for s in spans]
    refs = {(s["kind"], s["media_ref"]) for spans in docs["spans"] for s in spans if s["kind"] != "text"}
    return {
        "docs": len(docs),
        "text_spans": kinds.count("text"),
        "ref_spans": len(kinds) - kinds.count("text"),
        "distinct_payloads": len(refs),
        "media_rows": len(media),
    }


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def record_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")


def untraced_reference(args) -> float:
    """wall_s of the same run with tracing off: from this checkout's record of
    it when there is one, else from a child process run before this process
    starts its own Spark session."""
    try:
        with open(record_path(args.workload, args.seed, 0)) as f:
            record = json.load(f)
        if record["result"]["correct"] and record["context"]["seconds"] == args.seconds:
            return record["metrics"]["wall_s"]
    except (OSError, KeyError, ValueError):
        pass
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, timeout=170, check=True, text=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError("untraced reference run produced incorrect output")
    return result["metrics"]["wall_s"]["value"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)  # Python workers import the package from the working directory
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "ocr_text_recognition_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository; ocr_text_recognition_spark is missing",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    # Keep every scratch file Spark, the JVM and Python make inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    try:
        return run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl: Workload, work: str) -> int:
    import numpy
    import pyarrow
    import pyarrow.parquet as pq
    import pyspark
    from pyspark.sql import functions as F

    import layers
    import proctree
    from golden import count_failed, golden_table, make_golden, span_chars
    from ocr_text_recognition_spark import corpus
    from ocr_text_recognition_spark.extraction import checkpoint
    from ocr_text_recognition_spark.extraction.pipeline import extraction_session_conf, run_extraction
    from ocr_text_recognition_spark.extraction.udfs import extract_ref_udf
    from ocr_text_recognition_spark.io_pandas import write_corpus_parquet
    from ocr_text_recognition_spark.session import get_spark

    cores = nproc()
    t_run = time.perf_counter()
    phases: dict[str, float] = {}

    def mark(phase: str) -> None:
        phases[phase] = time.perf_counter() - t_run

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": cores, "load1_before": loadavg(), "steal_s": -steal_s(),
        "versions": {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "numpy": numpy.__version__},
        "phases_s": phases,
    }

    # ---- inputs and golden, off every clock
    docs_pd, media_pd = corpus.make_corpus(wl.n_docs, seed=args.seed, **wl.corpus_kw)
    context["corpus"] = corpus_shape(docs_pd, media_pd)
    mark("corpus")
    golden = make_golden(docs_pd, media_pd, min(cores, 4), work)
    want = golden_table(golden)
    mark("golden")
    data = os.path.join(work, "data")
    warmup_dir = os.path.join(work, "warmup")
    os.makedirs(data)
    os.makedirs(warmup_dir)
    write_corpus_parquet(docs_pd, media_pd, data)
    write_corpus_parquet(*corpus.make_corpus(WARMUP_DOCS, seed=args.seed + 1, **wl.corpus_kw), warmup_dir)

    mark("parquet")
    overhead_ref = untraced_reference(args) if args.trace else None
    mark("untraced_reference")

    conf = extraction_session_conf(dir_bytes(data), cores)
    conf.update({
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    })
    events = os.path.join(work, "events")
    if args.trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    # ---- setup: session creation until a Python worker per core has started
    # and initialised the UDF engine caches (the ref UDF over the warm-up
    # corpus's payloads, one partition per core)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench_{args.workload}", cores=cores, extra_conf=conf)
    t1 = time.perf_counter()
    try:
        warmup = layers.payload_frame(spark, warmup_dir, cores)
        warmup.select(extract_ref_udf(F.col("kind"), F.col("content"))).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        mark("setup")
        setup = {"setup_s": t2 - t0, "session.create_s": t1 - t0, "session.warmup_s": t2 - t1}

        # ---- passes
        sampler = proctree.RssSampler(os.getpid())

        def run_pass(name: str) -> dict:
            """One pass from clean state into fresh directories, then its
            correctness check off the clock."""
            out_dir, ledger_dir = os.path.join(work, name, "out"), os.path.join(work, name, "ledger")
            spark.catalog.clearCache()
            sampler.start()
            start = time.time()
            t = time.perf_counter()
            docs = spark.read.parquet(f"{data}/documents.parquet")
            media = spark.read.parquet(f"{data}/media.parquet")
            if wl.n_buckets:
                checkpoint.run_with_checkpoints(
                    spark, docs, media, out_dir, ledger_dir,
                    n_buckets=wl.n_buckets, buckets_per_wave=JOB_BUCKETS_PER_WAVE,
                )
            else:
                run_extraction(spark, docs, media).write.parquet(out_dir)
            wall = time.perf_counter() - t
            end = time.time()
            sampler.stop()
            p = {"wall_s": wall, "start_ms": start * 1000, "end_ms": end * 1000,
                 "cached_rdds_after": spark.sparkContext._jsc.getPersistentRDDs().size()}
            if wl.n_buckets:
                out = checkpoint.read_output(spark, out_dir).toArrow()
                t = time.perf_counter()
                done = checkpoint.completed_buckets(spark, ledger_dir)
                p["ledger_s"] = time.perf_counter() - t
                p.update(layers.ledger_waves(pq.read_table(ledger_dir).column("completed_at").to_pylist(), start))
                p["output_mb"] = dir_bytes(out_dir) / 2**20
            else:
                out = pq.read_table(out_dir)
                done = None
            p["failed"] = count_failed(out, golden, want)
            if done is not None and done != set(range(wl.n_buckets)):
                p["failed"] = len(golden)  # a ledger that misses buckets fails the whole pass
            p["chars"] = span_chars(out)
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
            return p

        # A run_extraction pass keeps speeding up over its first passes while the
        # JVM compiles the plan's code, so the extraction workloads time passes
        # only after untimed ones over the same corpus. The job pass is timed as
        # it runs after set-up, as a job run meets it.
        warm = [run_pass(f"warm{i}") for i in range(wl.warm_passes)]
        passes: list[dict] = []
        while sum(p["wall_s"] for p in passes) < args.seconds:
            passes.append(run_pass(f"pass{len(passes)}"))
        checked = warm + passes
        attempted = len(golden) * len(checked)
        failed = sum(p["failed"] for p in checked)
        out_chars = statistics.median(p["chars"] for p in passes)
        first_pass_s = checked[0]["wall_s"]
        mark("passes")
        wall_s = statistics.median(p["wall_s"] for p in passes)
        measured = {
            "wall_s": (wall_s, "s"),
            "docs_per_s": (wl.n_docs / wall_s, "docs/s"),
            "chars_per_s": (out_chars / wall_s, "chars/s"),
            "setup_s": (setup["setup_s"], "s"),
            "peak_rss_mb": (sampler.peak_mb, "MB"),
            "session.create_s": (setup["session.create_s"], "s"),
            "session.warmup_s": (setup["session.warmup_s"], "s"),
            "first_pass_s": (first_pass_s, "s"),
        }
        if args.trace:
            measured.update(layers.udf_layers(spark, data))
        mark("udf_probe")
    finally:
        app_id = spark.sparkContext.applicationId
        proctree.stop_spark(spark)
    mark("stop")
    if args.trace:
        shape = context["corpus"]
        measured.update(layers.event_log_layers(events, app_id, passes, cores))
        ref_rows = measured["spark.ref_rows"][0]
        measured["spark.ref_spans"] = (shape["ref_spans"], "count")
        measured["spark.recompute_ratio"] = (ref_rows / shape["distinct_payloads"], "ratio")
        measured["spark.cached_rdds_after"] = (statistics.median(p["cached_rdds_after"] for p in passes), "count")
        measured["spark.trace_overhead_frac"] = (wall_s / overhead_ref - 1.0, "ratio")
        context["untraced_wall_s"] = overhead_ref
        measured.update(layers.kernel_layers(docs_pd, media_pd, args.seed))
        measured.update(layers.text_layers(docs_pd, media_pd))
        if wl.n_buckets:
            measured.update(layers.checkpoint_layers(passes, ref_rows, shape["distinct_payloads"]))

    mark("layers")
    context["load1_after"] = loadavg()
    context["steal_s"] += steal_s()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": measured[k][0], "unit": measured[k][1]} for k in listed},
    }
    record = {
        "context": context, "warm_passes": warm, "passes": passes,
        "metrics": {k: v for k, (v, _) in measured.items()},
        "result": {k: result[k] for k in ("correct", "attempted", "failed")},
    }
    path = record_path(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"context": context}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
