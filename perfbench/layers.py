"""Per-layer timing from outside ``htmlgraft``: spans around calls into each
module's public functions, in one process, without Spark.

The lexer and the parser cannot be timed apart directly: the tokeniser's
content-map switching depends on the parser context every ``write_*`` call
returns, and it asks ``can_merge_text()`` before lexing merged text runs.
The split is made by record and replay:

* a ``Recorder`` delegate wraps a live ``Parser`` and records every call,
  its arguments and its return value;
* lexer time is the ``Tokeniser`` run against a ``Replayer`` delegate that
  hands back the recorded returns and builds nothing;
* parse time is the recorded calls replayed into a fresh ``Parser``.

``lex_parse.split_gap_us_per_kb`` (live pair minus lexer minus parse) shows
how well the two replays add up to the production pair.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import time

_ns = time.perf_counter_ns


@contextlib.contextmanager
def gc_off():
    """The parse UDF runs with the cyclic GC off (``job.make_parse_batch``);
    the serial layers are timed the same way."""
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if was_enabled:
            gc.enable()

_WRITES = ("write_tag", "write_end_tag", "write_data", "write_space",
           "write_doctype", "write_comment", "write_eof")


class Recorder:
    """Tokeniser delegate that forwards to ``parser`` and records each call
    as ``(method, args, returned)``, ``can_merge_text`` included."""

    def __init__(self, parser):
        self.parser = parser
        self.calls = []
        for name in _WRITES + ("can_merge_text",):
            setattr(self, name, self._forward(name, getattr(parser, name)))

    def _forward(self, name, method):
        calls = self.calls

        def call(*args):
            ret = method(*args)
            calls.append((name, args, ret))
            return ret
        return call

    @property
    def n_tokens(self) -> int:
        return sum(1 for c in self.calls if c[0] != "can_merge_text")


class Replayer:
    """Tokeniser delegate that returns the recorded values in order and
    does no tree work."""

    def __init__(self, calls):
        nxt = iter([c[2] for c in calls]).__next__

        def ret(*_args):
            return nxt()
        for name in _WRITES + ("can_merge_text",):
            setattr(self, name, ret)


class CheckingReplayer:
    """Like ``Replayer``, but also records the calls it receives, so a test
    can compare them with the recording."""

    def __init__(self, calls):
        self.seen = []
        nxt = iter([c[2] for c in calls]).__next__
        for name in _WRITES + ("can_merge_text",):
            setattr(self, name, self._make(name, nxt))

    def _make(self, name, nxt):
        seen = self.seen

        def call(*args):
            seen.append((name, args))
            return nxt()
        return call


def record(html: str):
    """Live parse through a ``Recorder``; returns (recorder, document)."""
    from htmlgraft.lexer import Tokeniser
    from htmlgraft.parse import Parser

    rec = Recorder(Parser())
    lexer = Tokeniser(rec)
    lexer.parse(html)
    lexer.end_input()  # the pipeline ends the tokeniser twice
    return rec, rec.parser.document


def replay_lexer(html: str, calls, delegate_cls=Replayer):
    from htmlgraft.lexer import Tokeniser

    delegate = delegate_cls(calls)
    lexer = Tokeniser(delegate)
    lexer.parse(html)
    lexer.end_input()
    return delegate


def replay_parse(calls):
    """Replay recorded calls into a fresh Parser; returns (parser, kinds)
    with ``kinds`` the list of values each call returned."""
    from htmlgraft.parse import Parser

    parser = Parser()
    methods = {name: getattr(parser, name) for name in _WRITES + ("can_merge_text",)}
    kinds = [methods[name](*args) for name, args, _ in calls]
    return parser, kinds


class Tracer:
    """In-memory spans ``(trace_id, layer, op, start_ns, dur_ns)``, written
    out once as JSON lines by ``dump``."""

    def __init__(self):
        self.spans = []

    def add(self, trace_id, layer: str, op: str, start: int, end: int) -> int:
        self.spans.append((trace_id, layer, op, start, end - start))
        return end - start

    def total_ns(self, layer: str) -> int:
        return sum(s[4] for s in self.spans if s[1] == layer)

    def dump(self, path: str, phase: str) -> None:
        """Append the spans to ``path`` as JSON lines tagged with ``phase``."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a", encoding="utf-8") as f:
            for tid, layer, op, start, dur in self.spans:
                f.write(json.dumps({"phase": phase, "trace_id": tid, "layer": layer,
                                    "op": op, "start_ns": start, "dur_ns": dur}) + "\n")


def _parse_pair(html: str):
    from htmlgraft.lexer import Tokeniser
    from htmlgraft.parse import Parser

    parser = Parser()
    lexer = Tokeniser(parser)
    lexer.parse(html)
    lexer.end_input()
    return parser


def serial_pipeline(docs, include_dom: bool, include_links: bool,
                    tracer: Tracer | None):
    """Every doc through decode -> lexer+parser -> extract [-> linkops], as
    the UDF runs it.  With a tracer, each layer call gets a span (one trace
    id per document); without, it is ``job.parse_document`` in a loop.
    Returns the wall seconds."""
    from htmlgraft.encoding import decode_html
    from htmlgraft.extract import analyze_tree
    from htmlgraft.job import parse_document
    from htmlgraft.linkops import analyze_links

    t0 = _ns()
    if tracer is None:
        for d in docs:
            try:
                parse_document(decode_html(d.raw, transport=d.charset),
                               include_dom, include_links)
            except Exception:  # the pipeline's typed error lane
                pass
        return (_ns() - t0) / 1e9
    add = tracer.add
    for d in docs:
        tid = d.url
        t = _ns()
        html = decode_html(d.raw, transport=d.charset)
        u = _ns()
        add(tid, "encoding", "decode_html", t, u)
        try:
            parser = _parse_pair(html)
        except Exception:  # the pipeline's typed error lane
            add(tid, "lex_parse", "Tokeniser(Parser)", u, _ns())
            continue
        t = _ns()
        add(tid, "lex_parse", "Tokeniser(Parser)", u, t)
        analyze_tree(parser.document, include_dom)
        u = _ns()
        add(tid, "extract", "analyze_tree", t, u)
        if include_links:
            analyze_links(parser.document)
            add(tid, "linkops", "analyze_links", u, _ns())
    return (_ns() - t0) / 1e9


def layer_split(docs, tracer: Tracer) -> dict:
    """Per-doc layer costs on ``docs`` (each layer timed on its own), plus
    the replay check.  Returns sums and the number of docs that failed the
    replay check."""
    from htmlgraft.encoding import decode_html
    from htmlgraft.extract import analyze_tree
    from htmlgraft.linkops import analyze_links
    from htmlgraft.walk import print_tree

    s = dict(docs=0, kb=0.0, enc=0, live=0, lexer=0, parse=0, tokens=0,
             nodes=0, dom=0, text=0, dom_bytes=0, in_bytes=0, links=0,
             n_links=0, replay_mismatch=0, error_lane=0)
    add = tracer.add
    for d in docs:
        tid = d.url
        t = _ns()
        html = decode_html(d.raw, transport=d.charset)
        enc = add(tid, "encoding", "decode_html", t, _ns())
        t = _ns()
        try:
            _parse_pair(html)
        except Exception:  # error-lane docs have no layer split
            s["error_lane"] += 1
            continue
        live = add(tid, "lex_parse", "live pair", t, _ns())
        rec, live_doc = record(html)
        t = _ns()
        replay_lexer(html, rec.calls)
        lex = add(tid, "lexer", "Tokeniser(Replayer)", t, _ns())
        t = _ns()
        parser, kinds = replay_parse(rec.calls)
        par = add(tid, "parse", "Parser replay", t, _ns())
        if kinds != [c[2] for c in rec.calls] or \
                print_tree(parser.document) != print_tree(live_doc):
            s["replay_mismatch"] += 1
        t = _ns()
        dom, _text, n_nodes = analyze_tree(live_doc, True)
        s["dom"] += add(tid, "extract", "analyze_tree(dom)", t, _ns())
        t = _ns()
        analyze_tree(live_doc, False)
        s["text"] += add(tid, "extract", "analyze_tree(text)", t, _ns())
        t = _ns()
        links = analyze_links(live_doc)[0]
        s["links"] += add(tid, "linkops", "analyze_links", t, _ns())
        s["docs"] += 1
        s["kb"] += len(d.raw) / 1024
        s["in_bytes"] += len(d.raw)
        s["enc"] += enc
        s["live"] += live
        s["lexer"] += lex
        s["parse"] += par
        s["tokens"] += rec.n_tokens
        s["nodes"] += n_nodes
        s["dom_bytes"] += len(dom.encode("utf-8"))
        s["n_links"] += len(links)
    return s


def job_batch(docs, include_dom: bool, include_links: bool, tracer: Tracer,
              rows_per_batch: int) -> tuple[float, float]:
    """``job.make_parse_batch`` fed pandas frames of ``rows_per_batch``
    rows (Spark's Arrow batch size), and the result frames converted to
    Arrow under the result schema.  Each frame also runs through
    ``serial_pipeline``, in the order serial, batch, batch, serial so that
    drift and warm caches cancel: the batch loop's own cost is the mean
    difference of the two.  Returns (batch seconds minus the in-doc
    layers, arrow-out seconds)."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from htmlgraft.job import FULL_RESULT_SCHEMA, RESULT_SCHEMA, make_parse_batch

    schema = to_arrow_schema(FULL_RESULT_SCHEMA if include_links else RESULT_SCHEMA)
    fn = make_parse_batch(include_dom, include_links=include_links)
    over_ns = arrow_ns = 0
    for k in range(0, len(docs), rows_per_batch):
        chunk = docs[k:k + rows_per_batch]
        frame = pd.DataFrame({
            "url": [d.url for d in chunk],
            "lang": ["en"] * len(chunk),
            "html": [d.raw for d in chunk],
            "charset": [d.charset for d in chunk],
            "part_id": [0] * len(chunk),
        })
        with gc_off():
            in_doc_ns = serial_pipeline(chunk, include_dom, include_links, None) * 1e9
        for _ in range(2):
            t = _ns()
            outs = list(fn(iter([frame])))
            over_ns += tracer.add(f"batch-{k}", "job", "parse_batch", t, _ns()) / 2
        with gc_off():
            in_doc_ns += serial_pipeline(chunk, include_dom, include_links, None) * 1e9
        over_ns -= in_doc_ns / 2
        t = _ns()
        for out in outs:
            pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False)
        arrow_ns += tracer.add(f"batch-{k}", "job", "to_arrow", t, _ns())
    return over_ns / 1e9, arrow_ns / 1e9


class TimedCatalog:
    """``run_job``'s ``catalog=`` seam with a span around each sink call.
    ``read_state`` also counts the done-set, so its span holds the read
    (``run_job`` counts it again to gate the broadcast join)."""

    def __init__(self, inner, tracer: Tracer, trace_id: str):
        self.inner = inner
        self.tracer = tracer
        self.trace_id = trace_id

    def _timed(self, op: str, fn, *args):
        t = _ns()
        out = fn(*args)
        self.tracer.add(self.trace_id, "sink", op, t, _ns())
        return out

    def read_state(self):
        def read():
            state = self.inner.read_state()
            if state is not None:
                state.select("url").count()
            return state
        return self._timed("read_state", read)

    def append_results(self, df) -> None:
        # the write runs the whole parse plan; its span is the job, not sink
        t = _ns()
        self.inner.append_results(df)
        self.tracer.add(self.trace_id, "job", "append_results", t, _ns())

    def read_run_results(self, run_id: str):
        return self.inner.read_run_results(run_id)

    def read_results(self):
        return self.inner.read_results()

    def append_progress(self, df) -> None:
        self._timed("append_progress", self.inner.append_progress, df)

    def append_state(self, df) -> None:
        self._timed("append_state", self.inner.append_state, df)

    def seconds(self, op: str) -> float:
        return sum(s[4] for s in self.tracer.spans
                   if s[0] == self.trace_id and s[2] == op) / 1e9
