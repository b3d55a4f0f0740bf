"""Tests of the in-memory tracer: span parents across threads, per-op
counts, and wrappers that put back what they replaced.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import NullTracer, Tracer, patch_everywhere, restore  # noqa: E402


def test_spans_link_to_the_op_that_caused_them():
    t = Tracer()
    with t.op_span("0"):
        with t.span("spec.build"):
            with t.span("hwm.capture"):
                pass
        worker = threading.Thread(target=lambda: t.wrap(lambda: None, "fanout.sink.jsonl")())
        worker.start()
        worker.join(timeout=10)
        assert not worker.is_alive()
    op, spec, capture, sink = t.spans
    assert (op.name, op.parent) == ("op", None)
    assert spec.parent == 0 and capture.parent == 1
    # a thread of the program's own, with no open span, hangs off the op
    assert sink.parent == 0
    assert all(s.op == "0" and s.end >= s.start for s in t.spans)


def test_next_op_starts_a_new_tree_and_counts_stay_per_op():
    t = Tracer()
    for op in ("w0", "0", "1"):
        with t.op_span(op):
            t.count("sinks.files_written", 2)
    assert [s.parent for s in t.spans] == [None, None, None]
    assert t.counted("sinks.files_written", {"0", "1"}) == 4
    assert t.total("op", {"w0"}) == t.spans[0].end - t.spans[0].start


def test_null_tracer_records_nothing_and_leaves_calls_alone():
    t = NullTracer()

    def fn(x):
        return x + 1

    assert t.wrap(fn, "spec.build") is fn
    with t.op_span("0"):
        with t.span("registry.exec"):
            t.count("sinks.files_written", 2)
    assert t.op == "0" and not t.spans and not t.counts


def test_patch_everywhere_replaces_every_binding_and_restores_them():
    from cassandra_extractor_spark.plans import spec as spec_mod
    from cassandra_extractor_spark.sources import catalog

    original = catalog.load_table

    def stand_in(*a, **kw):
        return original(*a, **kw)

    undo = patch_everywhere(catalog, "load_table", stand_in)
    try:
        assert catalog.load_table is stand_in
        assert spec_mod.load_table is stand_in  # bound by ``from ... import``
    finally:
        restore(undo)
    assert catalog.load_table is original and spec_mod.load_table is original
