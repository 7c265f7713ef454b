"""End-to-end ``spark-submit --py-files`` deployment test.

North-rule evidence (BASELINE.json: "run via spark-submit --py-files"):
the job driver runs as a REAL spark-submit subprocess whose cwd is a temp
directory and whose PYTHONPATH is scrubbed — the engine is importable ONLY
from dist/engine.zip shipped via --py-files. Output must satisfy
span-sequence equality (kind, text, media_ref, order) vs the plain-numpy
golden path, exercising packaging, the checkpoint-ledger job wrapper, and
the kernel UDFs across python worker processes in one shot.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _spark_submit() -> str | None:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else None


def _as_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


@pytest.mark.skipif(_spark_submit() is None, reason="spark-submit binary not found")
def test_spark_submit_py_files_end_to_end(tmp_path):
    from ocr_text_recognition_spark import corpus
    from ocr_text_recognition_spark.io_pandas import write_corpus_parquet
    from scripts.package import build

    zip_path = build(out=str(tmp_path / "engine.zip"))
    docs_pd, media_pd = corpus.make_corpus(12, seed=7)
    golden_pd = corpus.make_golden(docs_pd, media_pd)
    corpus_dir = str(tmp_path / "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    write_corpus_parquet(docs_pd, media_pd, corpus_dir)
    out_dir = str(tmp_path / "out")
    ledger_dir = str(tmp_path / "ledger")
    metrics_dir = str(tmp_path / "metrics")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # engine must come from --py-files, not the repo
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_MASTER"] = "from-submit"  # session.get_spark defers to spark-submit
    cmd = [
        _spark_submit(),
        "--master",
        "local[4]",
        "--conf",
        "spark.sql.shuffle.partitions=8",
        "--conf",
        "spark.ui.enabled=false",
        "--py-files",
        zip_path,
        os.path.join(REPO, "jobs", "extract.py"),
        "--docs",
        f"{corpus_dir}/documents.parquet",
        "--media",
        f"{corpus_dir}/media.parquet",
        "--out",
        out_dir,
        "--ledger",
        ledger_dir,
        "--metrics",
        metrics_dir,
        "--n-buckets",
        "4",
        "--buckets-per-wave",
        "2",
    ]
    proc = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"

    import pyarrow.dataset as ds

    got_tbl = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table()
    got_pd = got_tbl.to_pandas()
    got = {r["doc_id"]: _as_tuples(r["spans"]) for _, r in got_pd.iterrows()}
    want = {r["doc_id"]: _as_tuples(r["spans"]) for _, r in golden_pd.iterrows()}
    assert set(got) == set(want)
    bad = [d for d in want if got[d] != want[d]]
    assert not bad, f"{len(bad)} docs mismatch after spark-submit, first: {bad[:1]}"

    # one metrics row per processed bucket, under the ledger's one run_id,
    # joining the ledger on (run_id, bucket); counts sum to the golden's
    def table(path):
        return ds.dataset(path, format="parquet").to_table().to_pandas()

    ledger = table(ledger_dir)
    assert ledger["run_id"].nunique() == 1
    assert (ledger["wave_s"] > 0).all()
    m = table(metrics_dir)
    assert sorted(zip(m["run_id"], m["bucket"])) == sorted(zip(ledger["run_id"], ledger["bucket"]))
    assert sorted(m["bucket"]) == [0, 1, 2, 3]
    assert (m["docs"].sum(), m["spans"].sum(), m["chars_decoded"].sum()) == (
        len(golden_pd),
        sum(len(spans) for spans in golden_pd["spans"]),
        sum(len(s["text"] or "") for spans in golden_pd["spans"] for s in spans),
    )

    # second invocation with an intact ledger is a no-op (idempotent
    # resume) and appends no metrics rows
    proc2 = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    assert "processed buckets: []" in proc2.stdout
    assert sorted(map(tuple, table(metrics_dir).values.tolist())) == sorted(map(tuple, m.values.tolist()))


def test_extract_job_rejects_bucket_flags_below_one(monkeypatch):
    """--n-buckets / --buckets-per-wave below 1 exit with a usage error
    before any Spark session starts."""
    import importlib.util

    from ocr_text_recognition_spark import session

    def no_spark(*a, **k):
        raise AssertionError("Spark session started before flag validation")

    monkeypatch.setattr(session, "get_spark", no_spark)
    job_path = os.path.join(REPO, "jobs", "extract.py")
    spec = importlib.util.spec_from_file_location("extract_job", job_path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    required = ["--docs", "d", "--media", "m", "--out", "o", "--ledger", "l"]
    for flag in ("--n-buckets", "--buckets-per-wave"):
        for value in ("0", "-1"):
            monkeypatch.setattr(sys, "argv", ["extract.py", *required, flag, value])
            with pytest.raises(SystemExit) as exc:
                job.main()
            assert exc.value.code == 2, (flag, value)


def test_default_cores_follows_affinity(monkeypatch):
    from ocr_text_recognition_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0})
    assert session.default_cores() == 1
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cores() == 3
