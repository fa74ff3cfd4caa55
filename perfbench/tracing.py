"""In-memory span recorder for the traced run, and per-document layer timing.

A span is ``(id, parent, name, start, end, attrs)``; spans are kept in
memory and written out once, at exit.  Self time is a span's duration minus
the time its direct children cover.

:func:`sample_layers` times the per-document layers (dom, convert,
serialize, and extract's segmentation) in this process by calling their
public functions on a seeded document sample, with the functions that
``MarkdownConverter.preprocess`` calls wrapped for the duration.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[int, float]:
        """Self time of every closed span."""
        closed = [s for s in self.spans if s["end"] is not None]
        child_time = [0.0] * len(self.spans)
        for s in closed:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in closed}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextlib.contextmanager
def _patched(module, names: dict[str, str], tracer: Tracer):
    """Replace ``module.<attr>`` by a traced wrapper named ``span``."""
    saved = {attr: getattr(module, attr) for attr in names}
    try:
        for attr, span_name in names.items():
            setattr(module, attr, tracer.wrap(span_name, saved[attr]))
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


def sample_layers(tracer: Tracer, docs: dict[str, list[tuple[str, str | None]]]) -> dict:
    """Time each per-document layer on ``docs`` (size class → [(html,
    base_url)]); returns per-class means in microseconds.

    Mirrors the extraction UDF's chain: preprocess (cleanup → parse →
    collect_matches → the rest) → to_markdown → postprocess_markdown →
    markdown_to_spans.
    """
    from fetch_engines_spark.convert import converter as conv_mod
    from fetch_engines_spark.convert.serialize import to_markdown
    from fetch_engines_spark.extract import markdown_to_spans

    conv = conv_mod.MarkdownConverter()
    names = {
        "cleanup_html": "convert.cleanup_html",
        "parse_html": "dom.parse_html",
        "collect_matches": "dom.collect_matches",
    }
    out: dict[str, dict] = {}
    with _patched(conv_mod, names, tracer):
        for size_class, sample in docs.items():
            first = len(tracer.spans)
            kb = 0.0
            for html, base_url in sample:
                kb += len(html.encode("utf-8")) / 1000
                with tracer.span("doc", size_class=size_class):
                    with tracer.span("convert.preprocess"):
                        content, _title = conv.preprocess(html, base_url)
                    with tracer.span("serialize.to_markdown"):
                        markdown = content if isinstance(content, str) else to_markdown(content)
                    with tracer.span("convert.postprocess_markdown"):
                        markdown = conv_mod.postprocess_markdown(markdown)
                    with tracer.span("extract.markdown_to_spans"):
                        markdown_to_spans(markdown)
            spans = tracer.spans[first:]
            selfs = tracer.self_times()
            per = {}
            for s in spans:
                d = per.setdefault(s["name"], [0.0, 0.0])
                d[0] += s["end"] - s["start"]
                d[1] += selfs[s["id"]]
            n = len(sample)
            out[size_class] = {
                "us_per_doc": {k: v[0] * 1e6 / n for k, v in per.items()},
                "self_us_per_doc": {k: v[1] * 1e6 / n for k, v in per.items()},
                "parse_us_per_kb": per.get("dom.parse_html", [0.0])[0] * 1e6 / kb,
            }
    return out
