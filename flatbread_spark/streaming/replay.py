"""Streaming drain helper + last-batch plan capture (VERDICT r7 #6).

The seven stream-replay queries drain a bounded source with an
``availableNow`` trigger into a memory sink and return a batch frame — so
nothing of the STREAMING physical plan (state-store operators, watermarks,
grouped-pandas-with-state nodes) survives in the returned DataFrame for
``plans/golden.py`` to fingerprint. :func:`drain` stashes the
StreamingQuery handle at drain time; :func:`last_plan` then reads the last
executed micro-batch's physical plan via ``explainInternal`` — the string
the golden's streaming fingerprints are counted from. The registry holds
plain query handles (no Spark resources beyond what the session already
retains for stopped queries) keyed by sink name, latest drain wins.
:func:`input_row_counter` counts the rows a drained query ingested from
every progress update, which ``q.recentProgress`` (a ring buffer capped
by ``spark.sql.streaming.numRecentProgressUpdates``) cannot.

A drain that does not finish within its timeout stops the query and
raises :class:`DrainTimeout`, so no caller reads a partial memory sink as
the answer and no source directory is removed under a running query.
"""
from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_LAST_QUERY: dict[str, object] = {}

# held for a whole override window: concurrent drains must not interleave
# their set/restore of the session-global conf (the r9 probe-conf race
# lesson — tests/test_advice_r9.py pins the same pattern on graph.py)
_STATE_PARTITIONS_LOCK = threading.Lock()


@contextmanager
def bounded_state_partitions(spark, cap: int = 8):
    """Cap ``spark.sql.shuffle.partitions`` for the span of a bounded
    replay drain (``.start()`` through ``awaitTermination`` — Structured
    Streaming fixes the stateful stage's partition count from this conf
    at query START and records it in the checkpoint, so the override must
    cover planning, not just construction).

    Why (the r10 bench-outlier root cause): a stateful replay over a
    small key space pays PER-PARTITION overhead — a state-store provider
    with its own delta-file commit, plus an Arrow/Python
    ``applyInPandasWithState`` worker round-trip — regardless of how few
    keys land in each partition. At sf0.1 the events replays hold ~1.5k
    keys; 32 partitions means 32 state commits and 32 concurrent Python
    state workers for ~47 keys each, and under host core contention
    those workers serialize badly (BENCH_r09: stream_replay 15.5 s driver
    vs 2.1 s local; measured locally 32→8 partitions halves warm addBatch
    time). Never RAISES the session value (``min(session, cap)``), so
    plan-golden collection under its 4-partition env is unchanged.

    A real deployment replays with its own session conf sized to its key
    space — this cap is for the bounded drains the engine itself runs
    (grading/bench replays), which is why it lives in the entry-query
    layer and not inside the streaming operators.
    """
    key = "spark.sql.shuffle.partitions"
    with _STATE_PARTITIONS_LOCK:
        before = spark.conf.get(key)
        spark.conf.set(key, str(max(1, min(int(before), int(cap)))))
        try:
            yield
        finally:
            spark.conf.set(key, before)


class DrainTimeout(TimeoutError):
    """A bounded replay drain did not terminate within its timeout; the
    query has been stopped and its sink holds a partial answer."""


def drain(q, timeout: int = 300):
    """awaitTermination + register the query handle for plan capture.
    Raises :class:`DrainTimeout` (after stopping ``q``) if the query is
    still running after ``timeout`` seconds."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise DrainTimeout(
            f"streaming query {q.name!r} did not drain within {timeout} s; "
            "it was stopped and its sink is incomplete"
        )
    _LAST_QUERY[q.name] = q
    return q


class _InputRows(StreamingQueryListener):
    """Σ numInputRows per query id over every progress event. Listener
    events arrive asynchronously, but a query's progress events are all
    delivered before its terminated event, so :meth:`of` waits for that."""

    def __init__(self) -> None:
        self._rows: dict[str, int] = {}
        self._done: dict[str, threading.Event] = {}
        self._lock = threading.Lock()

    def _terminated(self, qid) -> threading.Event:
        with self._lock:
            return self._done.setdefault(str(qid), threading.Event())

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        qid = str(event.progress.id)
        with self._lock:
            self._rows[qid] = self._rows.get(qid, 0) + int(event.progress.numInputRows)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self._terminated(event.id).set()

    def of(self, q, timeout: float = 60.0) -> int:
        """Rows ``q`` ingested; waits for its terminated event first."""
        if not self._terminated(q.id).wait(timeout):
            raise RuntimeError(
                f"streaming query {q.name!r} reported no termination within "
                f"{timeout} s, so its ingested-row count is incomplete"
            )
        with self._lock:
            return self._rows.get(str(q.id), 0)


@contextmanager
def input_row_counter(spark):
    """Yield an :class:`_InputRows` listener registered for the span of the
    block; start and drain the query inside it, then read ``.of(q)``."""
    counter = _InputRows()
    spark.streams.addListener(counter)
    try:
        yield counter
    finally:
        spark.streams.removeListener(counter)


def last_plan(name: str) -> str | None:
    """Physical plan text of the last executed micro-batch of the most
    recently drained query named ``name`` (None if never drained)."""
    q = _LAST_QUERY.get(name)
    if q is None:
        return None
    # explainInternal(extended=False): the formatted physical plan of the
    # last completed execution — available after termination, unlike the
    # active-query-only APIs
    return q._jsq.explainInternal(False)
