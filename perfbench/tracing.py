"""Single-thread, in-process run of the extract kernel with and without spans.

The traced run records spans from the benchmark's side only: it swaps the
names ``make_extract_kernel`` looks up in ``fortissimo_spark.kernel``
(``decode_parse``, ``decode_page_bytes``, ``parse``, ``extract``) for timing
wrappers, runs the unchanged kernel, and restores them. Spans stay in memory
and are written once at the end.

Span tree: ``batch`` -> ``doc`` -> ``decode_parse`` -> (``decode_page_bytes``,
``parse`` once, or twice after a charset retry) and ``doc`` -> ``extract``.
A span's self time is its duration minus the time its children cover.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from spark_side import BATCH_ROWS

_WRAPPED = ("decode_parse", "decode_page_bytes", "parse", "extract")


class Tracer:
    def __init__(self):
        # [name, doc, start_ns, end_ns, parent index]
        self.spans: list[list] = []
        self._open: list[int] = []
        self.doc = -1

    def begin(self, name: str) -> int:
        if name == "decode_parse":  # the kernel's first call for each doc
            self.doc += 1
        parent = self._open[-1] if self._open else -1
        self.spans.append([name, self.doc, time.perf_counter_ns(), 0, parent])
        self._open.append(len(self.spans) - 1)
        return self._open[-1]

    def end(self, idx: int) -> None:
        self.spans[idx][3] = time.perf_counter_ns()
        self._open.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)
        return traced

    @contextmanager
    def installed(self):
        from fortissimo_spark import kernel
        saved = {name: getattr(kernel, name) for name in _WRAPPED}
        try:
            for name, fn in saved.items():
                setattr(kernel, name, self.wrap(name, fn))
            yield
        finally:
            for name, fn in saved.items():
                setattr(kernel, name, fn)

    def add_doc_spans(self) -> None:
        """One ``doc`` span per document, covering its layer spans, between
        the batch and the layer spans it covers."""
        extent: dict[int, list] = {}
        for name, doc, t0, t1, parent in self.spans:
            if name in ("decode_parse", "extract"):
                e = extent.setdefault(doc, [t0, t1, parent])
                e[0], e[1] = min(e[0], t0), max(e[1], t1)
        first = len(self.spans)
        index = {}
        for doc, (t0, t1, batch) in sorted(extent.items()):
            index[doc] = len(self.spans)
            self.spans.append(["doc", doc, t0, t1, batch])
        for span in self.spans[:first]:
            if span[0] in ("decode_parse", "extract"):
                span[4] = index[span[1]]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for i, (name, doc, t0, t1, parent) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "doc": doc,
                                    "start_ns": t0, "end_ns": t1,
                                    "parent": parent}) + "\n")


def _batches(pdf):
    for lo in range(0, len(pdf), BATCH_ROWS):
        yield pdf.iloc[lo:lo + BATCH_ROWS]


def _run_kernel(pdf, tracer: Tracer | None):
    import pandas as pd
    from fortissimo_spark.kernel import make_extract_kernel
    kernel = make_extract_kernel("density")
    out = []
    t0 = time.perf_counter()
    for batch in _batches(pdf):
        idx = tracer.begin("batch") if tracer else None
        out.extend(kernel(iter([batch])))
        if tracer:
            tracer.end(idx)
    return time.perf_counter() - t0, pd.concat(out, ignore_index=True)


def single_thread(pdf, reps: int, trace_path: Path) -> tuple[dict, str]:
    """Untraced and traced passes over the same sample, interleaved.
    Returns the layer metrics and the url of the slowest document to parse."""
    plain, traced = [], []
    tracer = None
    _, out = _run_kernel(pdf, None)  # untimed warm-up
    for _ in range(reps):
        dt, out = _run_kernel(pdf, None)
        plain.append(dt)
        tracer = Tracer()
        with tracer.installed():
            dt, _ = _run_kernel(pdf, tracer)
        traced.append(dt)
    tracer.add_doc_spans()
    tracer.write(trace_path)
    return layer_metrics(tracer, pdf, out, statistics.median(plain),
                         statistics.median(traced))


def layer_metrics(tracer: Tracer, pdf, out, plain_s: float,
                  traced_s: float) -> tuple[dict, str]:
    total: dict[str, int] = {}
    parse_by_doc = [0] * len(pdf)
    for name, doc, t0, t1, _ in tracer.spans:
        total[name] = total.get(name, 0) + t1 - t0
        if name == "parse":
            parse_by_doc[doc] += t1 - t0
    # decode work = decode_parse minus the parse calls inside it; the
    # decode_page_bytes child and any charset re-decode both count
    decode_ns = total["decode_parse"] - total["parse"]
    n = len(pdf)
    html_bytes = int(pdf["html"].map(len).sum())
    slow = max(range(n), key=parse_by_doc.__getitem__)
    p99 = statistics.quantiles(parse_by_doc, n=100)[98] if n > 1 else parse_by_doc[0]
    metrics = {
        "parser.parse_us_per_doc": total["parse"] / n / 1e3,
        "parser.parse_ns_per_byte": total["parse"] / html_bytes,
        "parser.parse_us_p99": p99 / 1e3,
        "parser.parse_us_max": parse_by_doc[slow] / 1e3,
        "kernel.decode_us_per_doc": decode_ns / n / 1e3,
        "kernel.charset_retry_ratio": float(out["encoding_retried"].mean()),
        "extract.extract_us_per_doc": total["extract"] / n / 1e3,
        "kernel.assembly_us_per_doc":
            (total["batch"] - total["decode_parse"] - total["extract"]) / n / 1e3,
        "kernel.docs_per_s_1thread": n / plain_s,
        "parser.nodes_per_doc": float(out["node_count"].mean()),
        "parser.errors_per_doc": float(out["errors"].mean()),
        "parser.implicitly_closed_per_doc": float(out["implicitly_closed"].mean()),
        "extract.kept_text_ratio":
            float(out["text_len"].sum() / out["characters"].sum()),
        "trace.overhead_ratio": plain_s / traced_s,
    }
    return metrics, str(pdf["url"].iloc[slow])
