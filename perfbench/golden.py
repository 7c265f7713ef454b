"""Golden span sequences from ``corpus.make_golden``, computed in parallel
worker processes (this file is also the worker's entry point)."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc


def span_key(spans) -> list[tuple]:
    """The compared span sequence: (kind, text, media_ref, offset) per span."""
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def make_golden(docs, media, workers: int, work_dir: str) -> dict[str, list[tuple]]:
    """``corpus.make_golden`` over ``workers`` slices of the documents, each
    slice with only the media rows it references, one process a slice."""
    step = -(-len(docs) // workers)
    procs = []
    try:
        for i in range(0, len(docs), step):
            part = docs.iloc[i : i + step]
            refs = {s["media_ref"] for spans in part["spans"] for s in spans}
            inp, out = os.path.join(work_dir, f"golden{i}.in"), os.path.join(work_dir, f"golden{i}.out")
            with open(inp, "wb") as f:
                pickle.dump((part, media[media["media_ref"].isin(refs)]), f)
            procs.append((subprocess.Popen([sys.executable, os.path.abspath(__file__), inp, out]), out))
        golden: dict[str, list[tuple]] = {}
        for proc, out in procs:
            if proc.wait() != 0:
                raise RuntimeError(f"golden worker exited with {proc.returncode}")
            with open(out, "rb") as f:
                golden.update(pickle.load(f))
        return golden
    finally:
        for proc, _ in procs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def golden_table(golden: dict[str, list[tuple]]) -> pa.Table:
    """The golden as an Arrow (doc_id, spans) table sorted by doc_id."""
    ids = sorted(golden)
    spans = [
        [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in golden[d]] for d in ids
    ]
    span = pa.struct([("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.table({"doc_id": ids, "spans": pa.array(spans, pa.list_(span))})


def count_failed(out: pa.Table, golden: dict[str, list[tuple]], want: pa.Table) -> int:
    """Golden docs whose span sequence is missing or differs in ``out``, plus
    docs ``out`` has and the golden lacks (capped at the golden's size).
    Whole-column Arrow equality decides the common all-equal case."""
    out = out.select(["doc_id", "spans"]).sort_by("doc_id")
    try:
        if (
            out.num_rows == want.num_rows
            and out["doc_id"].equals(want["doc_id"])
            and out["spans"].equals(want["spans"].cast(out.schema.field("spans").type))
        ):
            return 0
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
        pass
    got = {d: span_key(s) for d, s in zip(out["doc_id"].to_pylist(), out["spans"].to_pylist())}
    bad = sum(1 for d, spans in golden.items() if got.get(d) != spans)
    return min(len(golden), bad + sum(1 for d in got if d not in golden))


def span_chars(out: pa.Table) -> int:
    """Characters of span text in an extracted (doc_id, spans) table."""
    texts = pc.struct_field(pc.list_flatten(out["spans"]), "text")
    return pc.sum(pc.utf8_length(texts)).as_py() or 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ocr_text_recognition_spark import corpus

    with open(sys.argv[1], "rb") as f:
        docs, media = pickle.load(f)
    g = corpus.make_golden(docs, media)
    with open(sys.argv[2], "wb") as f:
        pickle.dump({d: span_key(s) for d, s in zip(g["doc_id"], g["spans"])}, f)
