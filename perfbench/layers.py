"""Per-layer measurements for a traced run, all taken from the benchmark side.

Layers and the end-to-end figure each should move:

- ``session``: its cost is ``setup_s`` on every workload.
- ``kernel`` (imgcodec, imageops, segment, tableparse, recognize): stage by
  stage ms/img over a sample of the workload's distinct images. Should move
  ``docs_per_s`` on extract_mixed most, and ``wall_s`` on job_waves.
- ``extraction.html`` / ``extraction.pdflayout``: ms per text span / pdf
  page (pdf on job_waves only). Small shares of both workloads.
- ``extraction.udfs`` (Arrow boundary): the payload frame of the ref UDF run
  once through an identity pandas UDF and once through ``extract_ref_udf``.
  The identity figure is the part of the ref stage no kernel work removes.
- ``extraction.pipeline``: Spark stages from the event log, grouped (see
  ``stage_group``). ``ref_udf`` should move extract_mixed; ``scan``,
  ``write`` and driver gaps, which every wave pays again, should move
  job_waves.
- ``extraction.checkpoint``: waves, wave times and kernel recomputation of
  the job. Should move ``wall_s`` on job_waves only; extract_mixed makes
  one pass and no ledger, so it should not move.
"""

from __future__ import annotations

import glob
import json
import os
import random
import statistics
import time
from collections.abc import Iterator

import pandas as pd

GROUPS = ("scan", "ref_udf", "text_join", "reassembly", "write")
KERNEL_SAMPLE = 400
HTML_SAMPLE = 4000
PDF_SAMPLE = 2000
# ledger rows closer in time than this were appended by the same wave
WAVE_GAP_S = 0.05


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- checkpoint


def ledger_waves(completed_at: list[float], start_s: float) -> dict:
    """Wave count and wave wall times from the ledger's ``completed_at``
    stamps: a wave ends when its ledger rows are appended."""
    stamps = sorted(completed_at)
    ends = [s for i, s in enumerate(stamps) if i + 1 == len(stamps) or stamps[i + 1] - s > WAVE_GAP_S]
    return {"waves": len(ends), "wave_s": [b - a for a, b in zip([start_s, *ends], ends)]}


def checkpoint_layers(passes: list[dict], ref_rows: float, distinct: int) -> dict:
    waves = [w for p in passes for w in p["wave_s"]]
    return {
        "ckpt.waves": (_median(p["waves"] for p in passes), "count"),
        "ckpt.wave_p50_s": (_median(waves), "s"),
        "ckpt.wave_max_s": (max(waves), "s"),
        "ckpt.ref_rows_total": (ref_rows, "count"),
        "ckpt.recompute_ratio": (ref_rows / distinct, "ratio"),
        "ckpt.output_mb": (_median(p["output_mb"] for p in passes), "MB"),
        "ckpt.ledger_s": (_median(p["ledger_s"] for p in passes), "s"),
    }


# ---------------------------------------------------------------- UDF boundary


def payload_frame(spark, data: str, partitions: int):
    """(kind, media_ref, content) of every distinct ref payload in the corpus
    at ``data``: the ref UDF's input in run_extraction."""
    from pyspark.sql import functions as F

    from ocr_text_recognition_spark.extraction.pipeline import explode_spans

    docs = spark.read.parquet(f"{data}/documents.parquet")
    media = spark.read.parquet(f"{data}/media.parquet")
    refs = explode_spans(docs).filter(F.col("kind").isin("media", "pdf")).select("kind", "media_ref").distinct()
    return refs.join(media, "media_ref", "left").repartition(partitions)


def udf_layers(spark, data: str) -> dict:
    """Time the ref UDF's payload frame through an identity pandas UDF and
    through ``extract_ref_udf``; the difference is kernel work, the identity
    figure is the Arrow boundary and Python worker cost."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    from ocr_text_recognition_spark.extraction.udfs import extract_ref_udf

    @pandas_udf(StringType())
    def identity_udf(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for kinds, _payloads in batches:
            yield kinds

    payloads = payload_frame(spark, data, spark.sparkContext.defaultParallelism * 2).persist()
    rows = payloads.count()

    def timed(udf) -> float:
        t = time.perf_counter()
        payloads.select(udf(F.col("kind"), F.col("content"))).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    identity_s = _median(timed(identity_udf) for _ in range(3))
    ref_s = timed(extract_ref_udf)
    payloads.unpersist()
    return {
        "udf.rows": (rows, "count"),
        "udf.identity_ms_per_row": (identity_s * 1000 / rows, "ms"),
        "udf.ref_ms_per_row": (ref_s * 1000 / rows, "ms"),
    }


# ---------------------------------------------------------------- Spark stages


def stage_group(scopes: list[str]) -> str:
    """Which pipeline step a stage belongs to, from its RDD scope names:
    ``write`` writes files (output and ledger); ``ref_udf`` runs a Python UDF
    on shuffled input (the ref UDF after the payload repartition);
    ``text_join`` runs a Python UDF next to a file scan (the text UDF, fused
    with the join-back and the union); ``reassembly`` aggregates span lists;
    ``scan`` is the rest (scans, locator cache, distinct refs, payload join)."""
    if any(s.startswith(("WriteFiles", "Execute InsertInto")) for s in scopes):
        return "write"
    if any("EvalPython" in s for s in scopes):
        return "text_join" if any(s.startswith("Scan") for s in scopes) else "ref_udf"
    if any(s.endswith("Aggregate") for s in scopes):
        return "reassembly"
    return "scan"


def _read_event_log(events: str, app_id: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(events, app_id + "*")))
    files += sorted(glob.glob(os.path.join(events, f"eventlog_v2_{app_id}", "events_*")))
    out = []
    for path in files:
        if os.path.isfile(path):
            with open(path) as f:
                out.extend(json.loads(line) for line in f)
    if not out:
        raise RuntimeError(f"no Spark event log for {app_id} in {events}")
    return out


def _ref_udf_accumulators(events: list[dict]) -> set[int]:
    """Accumulator ids of the ref UDF's 'number of output rows' metric, over
    every physical plan the log records (AQE re-plans included)."""
    ids: set[int] = set()

    def walk(node: dict) -> None:
        if "EvalPython" in node["nodeName"] and "extract_ref_udf" in node["simpleString"]:
            ids.update(m["accumulatorId"] for m in node["metrics"] if m["name"] == "number of output rows")
        for child in node.get("children", []):
            walk(child)

    for ev in events:
        if "sparkPlanInfo" in ev:
            walk(ev["sparkPlanInfo"])
    return ids


def event_log_layers(events_dir: str, app_id: str, passes: list[dict], cores: int) -> dict:
    """Stage timeline of every traced pass; each metric is the median over passes."""
    events = _read_event_log(events_dir, app_id)
    ref_ids = _ref_udf_accumulators(events)
    stages: dict[int, dict] = {}
    task_ms: dict[int, list[float]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Failure Reason") or si.get("Submission Time") is None:
                continue
            scopes = [json.loads(r["Scope"])["name"] for r in si["RDD Info"] if r.get("Scope")]
            acc: dict[str, int] = {}
            ref_rows = 0
            for a in si.get("Accumulables", []):
                try:
                    value = int(a["Value"])
                except (KeyError, TypeError, ValueError):
                    continue
                acc[a["Name"]] = acc.get(a["Name"], 0) + value
                if a["ID"] in ref_ids:
                    ref_rows += value
            shuffle = sum(acc.get(f"internal.metrics.shuffle.{k}", 0) for k in (
                "write.bytesWritten", "read.localBytesRead", "read.remoteBytesRead"))
            stages[si["Stage ID"]] = {
                "group": stage_group(scopes), "sub": si["Submission Time"], "done": si["Completion Time"],
                "shuffle": shuffle, "ref_rows": ref_rows,
            }
        elif kind == "SparkListenerTaskEnd":
            ti = ev["Task Info"]
            task_ms.setdefault(ev["Stage ID"], []).append(ti["Finish Time"] - ti["Launch Time"])

    per_pass = []
    for p in passes:
        mine = [(sid, s) for sid, s in stages.items() if p["start_ms"] <= s["sub"] <= p["end_ms"]]
        m = {}
        for g in GROUPS:
            gs = [(sid, s) for sid, s in mine if s["group"] == g]
            m[f"spark.{g}.wall_s"] = sum(s["done"] - s["sub"] for _, s in gs) / 1000
            m[f"spark.{g}.task_s"] = sum(sum(task_ms.get(sid, [])) for sid, _ in gs) / 1000
            m[f"spark.{g}.tasks"] = sum(len(task_ms.get(sid, [])) for sid, _ in gs)
            m[f"spark.{g}.shuffle_mb"] = sum(s["shuffle"] for _, s in gs) / 2**20
        covered, reach = 0.0, p["start_ms"]
        for s in sorted((s for _, s in mine), key=lambda s: s["sub"]):
            covered += max(0.0, min(s["done"], p["end_ms"]) - max(s["sub"], reach))
            reach = max(reach, min(s["done"], p["end_ms"]))
        wall_ms = p["end_ms"] - p["start_ms"]
        m["spark.driver_gap_s"] = (wall_ms - covered) / 1000
        m["spark.busy_frac"] = sum(sum(task_ms.get(sid, [])) for sid, _ in mine) / (wall_ms * cores)
        m["spark.ref_rows"] = sum(s["ref_rows"] for _, s in mine)
        per_pass.append(m)

    units = {"wall_s": "s", "task_s": "s", "tasks": "count", "shuffle_mb": "MB",
             "driver_gap_s": "s", "busy_frac": "ratio", "ref_rows": "count"}
    return {k: (_median(m[k] for m in per_pass), units[k.rsplit(".", 1)[1]]) for k in per_pass[0]}


# ---------------------------------------------------------------- kernel, html, pdf


KERNEL_STAGES = ("decode", "gray", "blur", "otsu", "median", "deskew", "specks", "rules", "cells", "text")


def _time_kernel_chain(payload: bytes) -> tuple[str, dict[str, float], bool]:
    """The default kernel chain of ``recognize_media_bytes``, one timed call
    per stage: decode, grayscale, blur, Otsu, median, deskew, speck removal,
    then table extraction or free-text recognition."""
    from ocr_text_recognition_spark.kernel import imageops, recognize, segment, tableparse
    from ocr_text_recognition_spark.kernel.imgcodec import decode_image
    from ocr_text_recognition_spark.kernel.reference_kernel import CELL_SEP

    t: dict[str, float] = {}
    c = time.perf_counter()

    def lap(stage: str) -> None:
        nonlocal c
        now = time.perf_counter()
        t[stage] = now - c
        c = now

    img = decode_image(payload)
    lap("decode")
    x = imageops.to_grayscale(img)
    lap("gray")
    x = imageops.gaussian_blur(x, ksize=5, sigma=1.0)
    lap("blur")
    x = imageops.otsu_binarize(x)
    lap("otsu")
    x = imageops.median3(x)
    lap("median")
    x = imageops.deskew(x)
    lap("deskew")
    mask = segment.remove_specks(x)
    lap("specks")
    h_rules, v_rules = tableparse.detect_rules(mask)
    lap("rules")
    table = tableparse.extract_table(mask)
    lap("cells")
    # extract_table runs detect_rules again; charge only the rest to cells
    t["cells"] = max(0.0, t["cells"] - t["rules"])
    if table is not None:
        text = "\n".join(CELL_SEP.join(row) for row in table)
        t["text"] = 0.0
    else:
        text = recognize.recognize_text(mask)
        lap("text")
    return text, t, len(h_rules) >= 2 and len(v_rules) >= 2


def kernel_layers(docs, media, seed: int) -> dict:
    """Stage ms/img over a seeded sample of the distinct images the
    documents reference. Each chain's output must equal
    ``recognize_media_bytes``; a mismatch aborts the traced run."""
    from ocr_text_recognition_spark.kernel.reference_kernel import recognize_media_bytes

    used = sorted({s["media_ref"] for spans in docs["spans"] for s in spans if s["kind"] == "media"})
    sample = random.Random(seed).sample(used, min(KERNEL_SAMPLE, len(used)))
    payloads = dict(zip(media["media_ref"], media["content"]))
    totals = dict.fromkeys(KERNEL_STAGES, 0.0)
    grids = 0
    for ref in sample:
        text, t, grid = _time_kernel_chain(payloads[ref])
        if text != recognize_media_bytes(payloads[ref]):
            raise RuntimeError(f"traced kernel chain differs from recognize_media_bytes on {ref}")
        grids += grid
        for k, v in t.items():
            totals[k] += v
    n = len(sample)
    out = {"kernel.images": (n, "count")}
    out.update({f"kernel.{k}_ms": (totals[k] * 1000 / n, "ms") for k in KERNEL_STAGES})
    out["kernel.total_ms"] = (sum(totals.values()) * 1000 / n, "ms")
    out["kernel.grid_hit_frac"] = (grids / n, "ratio")
    return out


def text_layers(docs, media) -> dict:
    """ms per html text span and per pdf page, over the workload's inputs."""
    from ocr_text_recognition_spark.extraction.html import extract_main_text
    from ocr_text_recognition_spark.extraction.pdflayout import extract_pdf_text

    html = [s["text"] for spans in docs["spans"] for s in spans if s["kind"] == "text"][:HTML_SAMPLE]
    t = time.perf_counter()
    for h in html:
        extract_main_text(h)
    html_s = time.perf_counter() - t
    pdf_refs = sorted({s["media_ref"] for spans in docs["spans"] for s in spans if s["kind"] == "pdf"})
    payloads = dict(zip(media["media_ref"], media["content"]))
    pages = [payloads[r] for r in pdf_refs[:PDF_SAMPLE]]
    t = time.perf_counter()
    for page in pages:
        extract_pdf_text(page)
    pdf_s = time.perf_counter() - t
    return {
        "html.spans": (len(html), "count"),
        "html.ms_per_span": (html_s * 1000 / len(html), "ms"),
        "pdf.pages": (len(pages), "count"),
        "pdf.ms_per_page": (pdf_s * 1000 / len(pages) if pages else 0.0, "ms"),
    }
