"""Stream runner: lifecycle, exit-code mapping, backfill/stream duality.

Reference choreography (SURVEY.md §3.1):

- ``SchemaMismatchException`` → annotate the job ``arcane/state=
  schema-mismatch`` and exit SUCCESS(0) so the operator restarts the stream
  in backfill mode (src/Services/ArcaneExceptionHandler.cs:41-47)
- ``SchemaInconsistentException`` → exit RESTART(2)
- unknown exception → exit FATAL(1)
- interrupted backfill → RESTART(2), successful completion → SUCCESS(0)
  (src/Providers/Hosting/HostBuilderExtensions.cs:187-191)
- SIGTERM → kill switch → graceful stop, completion token suppressed
  (src/Services/StreamLifetimeService.cs:15-58)

Spark mapping: backfill = ``Trigger.availableNow`` (drain-and-stop), stream =
``Trigger.processingTime`` (the reference's changeCaptureInterval timer, T1);
SIGTERM handler calls ``StreamingQuery.stop()``; the exit code is returned to
the scheduler (any K8s job controller) exactly as in the reference.
"""

from __future__ import annotations

import signal
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import timedelta

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from arcane_framework_spark.contracts.schema import (
    SchemaInconsistentError,
    SchemaMismatchError,
)

EXIT_SUCCESS = 0  # reference Contracts/Constants.cs ExitCodes.SUCCESS
EXIT_FATAL = 1  # ExitCodes.FATAL — retry counter increments
EXIT_RESTART = 2  # ExitCodes.RESTART — restart without counting a retry

STATE_ANNOTATION_KEY = "arcane/state"  # Contracts/Annotations.cs:14
SCHEMA_MISMATCH_ANNOTATION = "schema-mismatch"  # Annotations.cs:21


def classify_exception(exc: BaseException) -> tuple[int, dict[str, str]]:
    """Map an exception to (exit_code, job annotations) like the reference."""
    if isinstance(exc, SchemaMismatchError):
        return EXIT_SUCCESS, {STATE_ANNOTATION_KEY: SCHEMA_MISMATCH_ANNOTATION}
    if isinstance(exc, SchemaInconsistentError):
        return EXIT_RESTART, {}
    return EXIT_FATAL, {}


class FileAnnotationWriter:
    """Concrete ``annotate`` callback: merge annotations into a JSON file.

    The reference patches its own K8s Job object with ``arcane/state=...``
    (src/Services/ArcaneExceptionHandler.cs:41-47, Contracts/Annotations.cs:
    14-21) so the operator reacts to the next restart. Without a K8s API in
    reach, the durable analog is a JSON file at a well-known path (mount it
    where the supervisor looks — the downward-API pattern); each call merges
    so repeated runs accumulate the latest state per key. Atomic
    write-then-rename so a crashed writer can't leave a torn file.
    """

    def __init__(self, path: str):
        self.path = path

    def __call__(self, annotations: dict[str, str]) -> None:
        import json
        import os

        current: dict[str, str] = {}
        try:
            with open(self.path, encoding="utf-8") as fh:
                current = json.load(fh)
        except (OSError, ValueError):
            pass
        current.update(annotations)
        tmp = f"{self.path}.tmp"
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(current, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


@dataclass
class RunResult:
    exit_code: int
    annotations: dict[str, str] = field(default_factory=dict)
    error: BaseException | None = None
    interrupted: bool = False


class StreamRunner:
    """Runs one streaming (or backfill) query with Arcane lifecycle semantics."""

    def __init__(self,
                 annotate: Callable[[dict[str, str]], None] | None = None,
                 install_signal_handlers: bool = False):
        #: callback receiving job annotations (the K8s-annotation analog)
        self.annotate = annotate or (lambda ann: None)
        self.install_signal_handlers = install_signal_handlers
        self.interrupted = False
        self._query: StreamingQuery | None = None

    # -- kill switch (T6) ---------------------------------------------------

    def request_stop(self) -> None:
        """Kill switch: graceful stop; marks the run interrupted so sinks
        suppress their completion token."""
        self.interrupted = True
        if self._query is not None and self._query.isActive:
            self._query.stop()

    def _install_sigterm(self) -> None:
        def _handler(signum, frame):  # pragma: no cover - signal plumbing
            self.request_stop()

        signal.signal(signal.SIGTERM, _handler)

    # -- run ----------------------------------------------------------------

    def run_stream(self, df: DataFrame,
                   foreach_batch: Callable[[DataFrame, int], None],
                   checkpoint_dir: str,
                   backfill: bool = False,
                   trigger_interval: timedelta | None = None,
                   on_finish: Callable[[bool], None] | None = None) -> RunResult:
        """Start the query and await termination, mapping errors to exit codes.

        ``backfill=True`` → ``Trigger.availableNow`` (drain then stop — the
        reference's stopAfterBackfill, C10/T4); otherwise
        ``Trigger.processingTime(trigger_interval)`` (T1), default 15 s, at
        millisecond resolution; an interval under 1 ms raises ValueError
        (Spark reads a zero interval as "poll without pause").
        ``on_finish(interrupted)`` runs after termination — the hook for the
        sink's COMPLETED-token write (suppressed when interrupted, T6/T9).
        """
        if backfill:
            trigger = {"availableNow": True}
        else:
            interval = (timedelta(seconds=15) if trigger_interval is None
                        else trigger_interval)
            trigger = {"processingTime": _processing_time(interval)}
        if self.install_signal_handlers:
            self._install_sigterm()
        writer = df.writeStream.foreachBatch(foreach_batch).option(
            "checkpointLocation", checkpoint_dir
        ).trigger(**trigger)
        try:
            self._query = writer.start()
            self._query.awaitTermination()
        except BaseException as exc:  # noqa: BLE001 — lifecycle boundary
            code, annotations = classify_exception(_unwrap(exc))
            if annotations:
                self.annotate(annotations)
            return RunResult(code, annotations, error=exc,
                             interrupted=self.interrupted)
        finally:
            if on_finish is not None:
                on_finish(self.interrupted)
        if backfill and self.interrupted:
            # Interrupted backfill must restart (HostBuilderExtensions.cs:187-191).
            return RunResult(EXIT_RESTART, interrupted=True)
        return RunResult(EXIT_SUCCESS, interrupted=self.interrupted)

    def run_batch(self, job: Callable[[], None],
                  on_finish: Callable[[bool], None] | None = None) -> RunResult:
        """Run a batch backfill under the same exit-code contract."""
        if self.install_signal_handlers:
            self._install_sigterm()
        try:
            job()
        except BaseException as exc:  # noqa: BLE001 — lifecycle boundary
            code, annotations = classify_exception(_unwrap(exc))
            if annotations:
                self.annotate(annotations)
            return RunResult(code, annotations, error=exc,
                             interrupted=self.interrupted)
        finally:
            if on_finish is not None:
                on_finish(self.interrupted)
        if self.interrupted:
            return RunResult(EXIT_RESTART, interrupted=True)
        return RunResult(EXIT_SUCCESS)


def _processing_time(interval: timedelta) -> str:
    """``Trigger.processingTime`` string for ``interval``, in whole
    milliseconds."""
    ms = interval // timedelta(milliseconds=1)
    if ms <= 0:
        raise ValueError(
            f"trigger_interval must be at least 1 millisecond, got {interval!r}"
        )
    return f"{ms} milliseconds"


def _unwrap(exc: BaseException) -> BaseException:
    """Spark wraps foreachBatch errors in StreamingQueryException; surface the
    typed cause if one of ours is buried inside."""
    seen = set()
    node: BaseException | None = exc
    while node is not None and id(node) not in seen:
        if isinstance(node, (SchemaMismatchError, SchemaInconsistentError)):
            return node
        seen.add(id(node))
        node = node.__cause__ or node.__context__
    # PySpark errors often carry the Python cause only in the message text.
    text = str(exc)
    if "SchemaMismatchError" in text:
        return SchemaMismatchError.__new__(SchemaMismatchError)
    if "SchemaInconsistentError" in text:
        return SchemaInconsistentError.__new__(SchemaInconsistentError)
    return exc
