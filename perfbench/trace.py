"""Spans around the engine's layer calls, recorded from the benchmark side.

``LayerTracer`` wraps the public functions each layer is made of for the
duration of a ``with`` block, in this process only.
Every wrapped call records a span (name, start, end, parent) and adds to
the layer's counts. Spans stay in memory; ``self_times`` folds them into
per-layer self time: a span's duration minus the part of it its children
cover.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.counts: dict[str, int] = {}

    def begin(self, name: str) -> Span:
        span = Span(len(self.spans), name,
                    self._stack[-1] if self._stack else None,
                    time.perf_counter())
        self.spans.append(span)
        self._stack.append(span.sid)
        return span

    def finish(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        span = self.begin(name)
        try:
            yield span
        finally:
            self.finish(span)

    def count(self, key: str, n: int) -> None:
        self.counts[key] = self.counts.get(key, 0) + int(n)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.sid, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def total_times(spans: list[Span]) -> dict[str, float]:
    """Total duration per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.end - s.start
    return out


def _wrap(rec: Recorder, name: str, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span = rec.begin(name)
        try:
            result = fn(*args, **kwargs)
        finally:
            rec.finish(span)
        if after is not None:
            after(rec, args, result)
        return result

    return wrapper


def _after_inflate(rec, args, payload):
    rec.count("inflate.bytes_in", args[1].data_size)
    rec.count("inflate.bytes_out", len(payload))


def _after_parse_init(rec, args, _result):
    rec.count("parse.blocks", 1)
    rec.count("parse.strings", len(args[0].strings))


def _after_decode(kind):
    def after(rec, _args, cols):
        rec.count(f"decode.{kind}_rows", len(cols["id"]))
        rec.count(f"decode.{kind}_tag_pairs", len(cols["tag_keys"]))
        if kind == "way":
            rec.count("decode.way_refs", len(cols["ref_values"]))
        elif kind == "relation":
            rec.count("decode.members", len(cols["member_refs"]))
    return after


def _after_batch(rec, _args, batch):
    rec.count("batch.rows", batch.num_rows)
    rec.count("batch.arrow_bytes", batch.nbytes)


def _after_encode(rec, args, _result):
    rec.count("encode.bytes", os.path.getsize(args[0]))


class LayerTracer:
    """Context manager that wraps each layer's calls with spans.

    Layer map (module names of ``osmpbf_spark.sources.pbf``):
    plan = decode.index_blocks, OsmPbfReader.partitions;
    inflate = decode.read_block_payload;
    parse = BlockDecoder constructor and group_types;
    decode.nodes/ways/relations = BlockDecoder.decode_*;
    batch = OsmPbfReader._to_batch; writer = OsmPbfWriter.write;
    encode = encode.write_pbf. ``reader`` spans are opened by the caller
    (``Recorder.span``) around a whole ``OsmPbfReader.read``.
    """

    def __init__(self, rec: Recorder):
        from osmpbf_spark.sources.pbf import datasource, decode, encode

        bd, rd = decode.BlockDecoder, datasource.OsmPbfReader
        self.rec = rec
        self._patches = [
            (decode, "index_blocks", "plan.index", None),
            (rd, "partitions", "plan", None),
            (decode, "read_block_payload", "inflate", _after_inflate),
            (bd, "__init__", "parse", _after_parse_init),
            (bd, "group_types", "parse", None),
            (bd, "decode_nodes", "decode.nodes", _after_decode("node")),
            (bd, "decode_ways", "decode.ways", _after_decode("way")),
            (bd, "decode_relations", "decode.relations",
             _after_decode("relation")),
            (rd, "_to_batch", "batch", _after_batch),
            (datasource.OsmPbfWriter, "write", "writer", None),
            (encode, "write_pbf", "encode", _after_encode),
        ]
        self._saved: list[tuple[object, str, object]] = []

    def __enter__(self):
        for owner, attr, name, after in self._patches:
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, _wrap(self.rec, name, fn, after))
        return self

    def __exit__(self, *exc):
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
        return False
