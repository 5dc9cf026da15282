"""Spans and the in-process kernel replay of the traced run.

A span has a name, a start, an end, a parent span and an operation id.
Spans stay in memory and are written out once, when the run ends.

The kernel phases are measured by driving a stage's per-tile loop in
this process, single-threaded, on a fixed sample of tiles, with timing
wrappers on the ``gridlib`` and ``datagen`` functions the loop calls.
The wrappers exist only inside :func:`wrapped`; the timed runs never
install them.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int            # index of the parent span, -1 at the root
    op: int                # operation id, -1 outside operations


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    _stack: list[int] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            self.counts[name] = self.counts.get(name, 0) + 1
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def total(self, name: str, root: int = 0) -> float:
        """Summed duration of spans called ``name`` from index ``root`` on."""
        return sum(s.end - s.start for s in self.spans[root:] if s.name == name)

    def self_time(self, name: str, root: int = 0) -> float:
        """Summed duration of ``name`` spans minus their direct children."""
        own = {i for i in range(root, len(self.spans)) if self.spans[i].name == name}
        child = sum(s.end - s.start for s in self.spans[root:] if s.parent in own)
        return self.total(name, root) - child

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _engine_modules():
    return [m for n, m in list(sys.modules.items())
            if n.startswith("lasutility_spark") and m is not None]


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: dict[str, tuple[object, str]]):
    """Replace each target ``(owner, attribute)`` with a timing wrapper
    named by its key, in its owner and in every engine module that
    imported it by name; restore everything on exit."""
    saved = []
    try:
        for name, (owner, attr) in targets.items():
            orig = getattr(owner, attr)
            timed = tracer.wrap(name, orig)
            holders = [owner] if isinstance(owner, type) else [
                m for m in _engine_modules() if getattr(m, attr, None) is orig
            ]
            for h in holders:
                saved.append((h, attr, orig))
                setattr(h, attr, timed)
        yield
    finally:
        for h, attr, orig in reversed(saved):
            setattr(h, attr, orig)


@dataclass
class Replay:
    """One workload's per-tile loop: ``run()`` processes the sample once."""

    run: object
    targets: dict[str, tuple[object, str]]
    n_tiles: int
    refs: int = 0          # feature references the sample makes (PIP only)


KERNEL_LAYERS = (
    "gridlib.png.decode_ms", "datagen.sample_points_ms",
    "gridlib.tin.delaunay_ms", "gridlib.tin.fill_ms",
    "gridlib.png.encode_ms", "gridlib.phash.ms",
    "gridlib.wkb.decode_ms", "pip_stage.feature_raster_ms",
)


def measure_replay(tracer: Tracer, replay: Replay, reps: int = 5) -> dict[str, float]:
    """Alternate bare and wrapped passes over the sample; return the
    per-tile phase times (ms), the loop's self time and the wrappers'
    cost relative to the bare loop."""
    replay.run()  # warm-up: native kernel load, first-call costs
    bare, traced = [], []
    root = len(tracer.spans)
    tracer.counts.clear()
    for _ in range(reps):
        t0 = time.perf_counter()
        replay.run()
        bare.append(time.perf_counter() - t0)
        with wrapped(tracer, replay.targets), tracer.span("kernel.loop"):
            t0 = time.perf_counter()
            replay.run()
            traced.append(time.perf_counter() - t0)
    per_tile = 1e3 / (reps * replay.n_tiles)
    out = {k: 0.0 for k in KERNEL_LAYERS}
    for name in replay.targets:
        out[name] = tracer.total(name, root) * per_tile
    out["kernel.other_ms"] = tracer.self_time("kernel.loop", root) * per_tile
    out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(bare) - 1.0
    if replay.refs:
        decodes = tracer.counts.get("gridlib.wkb.decode_ms", 0)
        out["gridlib.wkb.decodes_per_ref"] = decodes / (reps * replay.refs)
    return out
