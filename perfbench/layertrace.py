"""Spans for the traced run, recorded around calls into the program's layer
modules from the benchmark's own wrappers (no program file changes).

A span is ``[name, start_ns, end_ns, parent, trace_id, tag]``: ``parent``
indexes the enclosing span of the same process, ``trace_id`` is the
document url (batch-level spans use the batch number). Spans stay in
memory and are written as JSON lines when a task's batches end (worker
side) or when the run ends (driver side). A layer's self time is its
spans' durations minus what their child spans cover.

Worker side, :func:`traced_map` replaces each ``mapInPandas`` function:
on first use in a Python worker it wraps the layer functions that
``operators.extract`` calls, then it unpickles the real batch function
(so its global references resolve to the wrappers) and times the Arrow
hand-offs around every batch.
"""

from __future__ import annotations

import functools
import json
import os
import time
from pathlib import Path

_now = time.perf_counter_ns


class Tracer:
    """In-memory spans and counters of one process."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.counters: dict[str, float] = {}
        self.trace_id = ""
        self.active = True  # wrappers pass calls straight through when False

    def count(self, key: str, n: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    def begin(self, name: str, trace_id: str | None = None) -> list:
        rec = [name, _now(), 0, self.stack[-1] if self.stack else -1,
               self.trace_id if trace_id is None else trace_id, None]
        self.stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def end(self, rec: list) -> None:
        rec[2] = _now()
        self.stack.pop()

    def wrap(self, name: str, fn, *, trace_arg: int | None = None,
             tag=None, counter=None):
        """``fn`` wrapped in a span ``name``. A call nested directly in a
        span of the same name (recursion) adds no span. ``tag(out)`` labels
        the span; ``counter(args, out)`` returns ``{key: amount}``."""
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            st = tracer.stack
            if st and tracer.spans[st[-1]][0] == name:
                out = fn(*args, **kwargs)
            else:
                rec = tracer.begin(name, None if trace_arg is None else str(args[trace_arg]))
                try:
                    out = fn(*args, **kwargs)
                finally:
                    tracer.end(rec)
                if tag is not None:
                    rec[5] = tag(out)
            if counter is not None:
                for k, v in counter(args, out).items():
                    tracer.count(k, v)
            return out

        return wrapped

    def patch(self, owner, attr: str, name: str, **kw) -> None:
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), **kw))

    def drain(self) -> dict:
        out = {"spans": self.spans, "counters": self.counters}
        self.spans, self.counters, self.stack = [], {}, []
        return out

    def write(self, path: Path) -> None:
        if self.spans or self.counters:
            with open(path, "a") as f:
                f.write(json.dumps(self.drain()) + "\n")


def install_layer_wrappers(tr: Tracer) -> None:
    """Wrap the layer functions ``operators.extract`` reaches: the PDF
    object walk, the ciphers, the HTML walk and the field layer."""
    from b_pdf_parser_spark import aescipher, fields, pdfmodel
    from b_pdf_parser_spark.operators import extract as ex

    doc = pdfmodel.PdfDocument
    tr.patch(ex, "_extract_one", "extract.doc", trace_arg=0, tag=lambda out: out["kind"])
    tr.patch(ex, "extract_pdf_pages_and_tables", "pdfmodel.extract")
    tr.patch(doc, "__init__", "pdfmodel.open")
    tr.patch(doc, "pages", "pdfmodel.pages", counter=lambda a, out: {"pdfmodel.pages": len(out)})
    tr.patch(doc, "page_content", "pdfmodel.content")
    tr.patch(doc, "page_fonts", "pdfmodel.fonts")
    # stream decode runs under page_content (content streams) and under
    # page_fonts (ToUnicode CMaps); both count as stream decode
    tr.patch(doc, "decode_stream", "pdfmodel.content",
             counter=lambda a, out: {"pdfmodel.decoded_b": len(out)})
    tr.patch(pdfmodel, "_extract_spans", "pdfmodel.spans")
    tr.patch(pdfmodel, "_xy_cut_lines", "pdfmodel.layout")
    tr.patch(pdfmodel, "_detect_tables", "pdfmodel.layout")
    decrypted = lambda a, out: {"crypto.decrypted_b": len(a[1])}  # noqa: E731
    tr.patch(pdfmodel, "_rc4", "crypto.decrypt", counter=decrypted)
    tr.patch(aescipher, "aes_cbc_decrypt", "crypto.decrypt", counter=decrypted)
    tr.patch(ex, "_decode_html_bytes", "htmlmodel.decode")
    tr.patch(ex, "extract_html_blocks", "htmlmodel.blocks")
    tr.patch(ex, "extract_html_tables", "htmlmodel.tables",
             counter=lambda a, out: {"htmlmodel.table_walks": 1,
                                     "htmlmodel.table_hits": int(bool(out))})
    tr.patch(fields, "extract_metadata_batch", "fields.metadata")
    attempt = lambda a, out: {"fields.strategy_attempts": 1}  # noqa: E731
    for fn in ("transactions_from_table_rows", "extract_transactions",
               "extract_transactions_inline"):
        tr.patch(fields, fn, "fields.txn", counter=attempt)
    tr.patch(fields, "extract_summary_totals", "fields.summary")
    tr.patch(fields, "verify_turnover", "fields.verify")


_WORKER: Tracer | None = None  # the tracer of this Python worker process


def _worker_tracer() -> Tracer:
    global _WORKER
    if _WORKER is None:
        _WORKER = Tracer()
        install_layer_wrappers(_WORKER)
    return _WORKER


def traced_map(batches, *, blob: bytes, module: str, trace_dir: str):
    """The traced stand-in for a ``mapInPandas`` function (pickled as
    ``blob``). Times the wait for each input batch (scan/shuffle read,
    JVM→Python Arrow and conversion), the body, and the hand-back of each
    output batch (Python→JVM Arrow)."""
    from pyspark import cloudpickle

    tr = _worker_tracer()
    tr.active = True
    body = cloudpickle.loads(blob)
    batch_no = [0]

    def feed():
        it = iter(batches)
        while True:
            rec = tr.begin("arrow.to_python")
            try:
                b = next(it)
            except StopIteration:
                return
            finally:
                tr.end(rec)
            batch_no[0] += 1
            tr.trace_id = f"batch-{os.getpid()}-{batch_no[0]}"
            tr.count("udf.batches:" + module, 1)
            yield b

    gen = body(feed())
    while True:
        rec = tr.begin("udf.batch:" + module)
        try:
            out = next(gen)
        except StopIteration:
            break
        finally:
            tr.end(rec)
        t0 = _now()
        yield out
        tr.spans.append(["arrow.from_python", t0, _now(), -1, tr.trace_id, None])
    tr.write(Path(trace_dir) / f"spans-{os.getpid()}.jsonl")
    # the wrappers stay installed in this reused worker; untraced tasks that
    # run in it later must not pay for spans
    tr.active = False


def patch_map_in_pandas(trace_dir: str):
    """Route every ``DataFrame.mapInPandas`` built from now on through
    :func:`traced_map`. Returns a function that undoes the patch."""
    from pyspark import cloudpickle
    from pyspark.sql.classic.dataframe import DataFrame

    original = DataFrame.mapInPandas

    def traced(self, func, schema, *args, **kwargs):
        fn = functools.partial(
            traced_map, blob=cloudpickle.dumps(func),
            module=getattr(func, "__module__", "") or "", trace_dir=trace_dir)
        return original(self, fn, schema, *args, **kwargs)

    DataFrame.mapInPandas = traced
    return lambda: setattr(DataFrame, "mapInPandas", original)


def load(trace_dir: Path, pattern: str = "spans-*.jsonl") -> list[dict]:
    """Every flushed span set in the files under ``trace_dir`` that match
    ``pattern``."""
    out = []
    for p in sorted(trace_dir.glob(pattern)):
        out += [json.loads(line) for line in p.read_text().splitlines() if line]
    return out


def self_times(flushes: list[dict]) -> dict[str, float]:
    """Seconds of self time per span name over all flushed span sets."""
    out: dict[str, float] = {}
    for fl in flushes:
        spans = fl["spans"]
        own = [s[2] - s[1] for s in spans]
        for s in spans:
            if s[3] >= 0:
                own[s[3]] -= s[2] - s[1]
        for s, t in zip(spans, own):
            out[s[0]] = out.get(s[0], 0.0) + t / 1e9
    return out


def durations(flushes: list[dict], name: str) -> list[tuple[str, float]]:
    """(tag, inclusive seconds) of every span called ``name``."""
    return [(s[5], (s[2] - s[1]) / 1e9) for fl in flushes for s in fl["spans"] if s[0] == name]


def counters(flushes: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for fl in flushes:
        for k, v in fl["counters"].items():
            out[k] = out.get(k, 0) + v
    return out
