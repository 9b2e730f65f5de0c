"""Record a chain's frame ops once, replay them on each new input.

The reference builds its processor chain once (processors.New,
libbeat/processors/processor.go:72-123) and then only moves events through
it. Building the Spark plan of a chain is the costly part here — thousands
of py4j round trips and an eager analysis per step — so ``Pipeline``
builds it once through a recorder and replays the recorded ops on each
later input:

    tape = Tape()
    out = build(tape.record(df))       # the ordinary build, on a recorder
    if tape.seal(out):                 # replayable: keep the tape
        later = tape.replay(df2)       # same ops, new input

The recorder passes ``schema``, ``columns``, ``dtypes`` and
``sparkSession`` through to the real frame and records every call of a
frame-returning method in :data:`RECORDED` with its arguments (recorded
frames among them become references into the tape). Any other access — an
action, ``df["x"]``, the JVM handle ``F.broadcast`` takes, ``groupBy``,
``mapInPandas`` — marks the tape unreplayable, and the real frame serves
it, so the build finishes exactly as it would without the recorder.

A replay runs only the ops the output depends on (a probe such as
``Fields._dtype``'s ``select(v).schema`` is dead) with the recorded
arguments: Columns, and the frames the build read on the side (lookup
dims), are reused as they are. A tape is valid only for inputs of the
schema it was recorded on, under the same session conf and lookups; the
caller keys it on those.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

RECORDED = frozenset({
    "select", "withColumn", "withColumns", "withColumnRenamed",
    "withColumnsRenamed", "drop", "filter", "where", "join", "repartition",
    "sortWithinPartitions",
})
PASSED = frozenset({"schema", "columns", "dtypes", "sparkSession"})


class _Ref:
    """A recorded frame inside an op's arguments: the tape node's index."""

    __slots__ = ("node",)

    def __init__(self, node: int):
        self.node = node


def _map(x: Any, fn) -> Any:
    """``x`` with every recorded frame (or ref) in it replaced by ``fn``
    of it, through lists, tuples and dicts."""
    if isinstance(x, (_Frame, _Ref)):
        return fn(x)
    if isinstance(x, (list, tuple)):
        return type(x)(_map(v, fn) for v in x)
    if isinstance(x, dict):
        return {k: _map(v, fn) for k, v in x.items()}
    return x


class Tape:
    """The ops of one build. Node 0 is the input; node ``k`` is the frame
    ``ops[k - 1]`` returned. An op is (source node, method, args, kwargs)."""

    def __init__(self):
        self.ops: list[tuple[int, str, tuple, dict]] = []
        self.replayable = True
        self.out: int | None = None

    def record(self, df: DataFrame) -> "_Frame":
        return _Frame(df, self, 0)

    def seal(self, out: Any) -> bool:
        """Fix ``out`` (what the build returned) as the tape's output;
        True when the tape can be replayed."""
        if not (self.replayable and isinstance(out, _Frame) and out._tape is self):
            return False
        self.out = out._node
        return True

    def live(self) -> list[int]:
        """The nodes the output depends on, in recording order."""
        seen, todo = set(), [self.out]
        while todo:
            k = todo.pop()
            if k in seen:
                continue
            seen.add(k)
            if k:
                src, _, args, kwargs = self.ops[k - 1]
                todo.append(src)
                _map((args, kwargs), lambda r: todo.append(r.node))
        return sorted(seen)

    def replay(self, df: DataFrame) -> DataFrame:
        frames = {0: df}
        for k in self.live()[1:]:
            src, name, args, kwargs = self.ops[k - 1]
            resolve = lambda r: frames[r.node]  # noqa: E731
            frames[k] = getattr(frames[src], name)(*_map(args, resolve),
                                                   **_map(kwargs, resolve))
        return frames[self.out]


def real(x: Any) -> Any:
    """The real frame behind a recorded one (anything else as it is)."""
    return x._real if isinstance(x, _Frame) else x


class _Frame:
    """A real frame plus its place on a tape (see the module docstring)."""

    __slots__ = ("_real", "_tape", "_node")

    def __init__(self, df: DataFrame, tape: Tape, node: int):
        self._real, self._tape, self._node = df, tape, node

    def __getattr__(self, name: str) -> Any:
        if name in RECORDED:
            return lambda *a, **k: self._call(name, a, k)
        if name not in PASSED:
            self._tape.replayable = False
        return getattr(self._real, name)

    def __getitem__(self, item: Any) -> Any:
        self._tape.replayable = False
        return self._real[item]

    def _call(self, name: str, args: tuple, kwargs: dict) -> "_Frame":
        tape = self._tape
        out = getattr(self._real, name)(*_map(args, real), **_map(kwargs, real))
        ref = lambda f: _Ref(f._node)  # noqa: E731
        tape.ops.append((self._node, name, _map(args, ref), _map(kwargs, ref)))
        return _Frame(out, tape, len(tape.ops))
