"""Spans and streaming progress for the traced run.

Spans are kept in memory and written once at the end: one trace per
steady chunk (trace id = chunk index) holding the chunk span, and below
it one span per micro-batch with its ``durationMs`` parts laid out as
child spans, taken from the benchmark's own ``StreamingQueryListener``.
The prefix runs add one trace (``prefix``) with a span per public call.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from datetime import datetime

#: micro-batch phases in execution order (MicroBatchExecution)
BATCH_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

#: listener duration part -> per-layer metric name
PART_METRICS = {
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "addBatch": "streaming.add_batch_ms",
    "triggerExecution": "streaming.trigger_ms",
}


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.progress: dict[int, dict] = {}
        self.chunks: list[dict] = []
        self._lock = threading.Lock()
        self._listener = None
        self._last_batch = -1

    def span(self, name: str, start: float, end: float, trace, parent: int | None = None) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "trace": trace}
        )
        return sid

    # -- streaming listener ------------------------------------------------

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch": p.batchId,
                    "timestamp": p.timestamp,
                    "rows": p.numInputRows,
                    "durations": dict(p.durationMs),
                    "state": [
                        (s.numRowsTotal, s.memoryUsedBytes, s.numRowsDroppedByWatermark,
                         s.allUpdatesTimeMs + s.allRemovalsTimeMs + s.commitTimeMs)
                        for s in p.stateOperators
                    ],
                }
                with tracer._lock:
                    tracer.progress[p.batchId] = rec

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    # -- chunks ---------------------------------------------------------------

    def begin_window(self, query) -> None:
        """Chunks before the steady window are not traced: their
        batches must not count towards the first steady chunk."""
        self._last_batch = (query.lastProgress or {}).get("batchId", -1)

    def begin_chunk(self, index: int) -> None:
        self._chunk = (index, time.time())

    def end_chunk(self, query) -> None:
        index, start = self._chunk
        end = time.time()
        last = (query.lastProgress or {}).get("batchId", self._last_batch)
        self.chunks.append(
            {"index": index, "start": start, "end": end,
             "batches": list(range(self._last_batch + 1, last + 1))}
        )
        self._last_batch = last

    def _drain(self, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously: wait for the last
        batch of the window to be reported."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                if self._last_batch < 0 or self._last_batch in self.progress:
                    return
            time.sleep(0.05)

    def layer_metrics(self, latencies_s: list[float]) -> dict[str, float]:
        """Per-chunk sums of each duration part, as medians over the
        steady chunks, plus state size, the state store's own time
        (updates, removals and commit) and the share of chunk latency
        the listener's trigger time accounts for."""
        self._drain()
        with self._lock:
            progress = dict(self.progress)
        per_part: dict[str, list[float]] = {k: [] for k in PART_METRICS}
        state_rows, state_mb, state_ms, accounted, n_batches = [], [], [], [], 0
        dropped = 0
        for chunk, lat in zip(self.chunks, latencies_s):
            recs = [progress[b] for b in chunk["batches"] if b in progress]
            n_batches += len(chunk["batches"])
            for part in PART_METRICS:
                per_part[part].append(sum(r["durations"].get(part, 0) for r in recs))
            if recs and recs[-1]["state"]:
                state_rows.append(sum(s[0] for s in recs[-1]["state"]))
                state_mb.append(sum(s[1] for s in recs[-1]["state"]) / (1 << 20))
            dropped += sum(s[2] for r in recs for s in r["state"])
            state_ms.append(sum(s[3] for r in recs for s in r["state"]))
            accounted.append(per_part["triggerExecution"][-1] / 1000 / lat)
            self._chunk_spans(chunk, recs)
        out = {name: statistics.median(per_part[part]) for part, name in PART_METRICS.items()}
        out["streaming.batches_per_chunk"] = n_batches / max(1, len(self.chunks))
        out["streaming.state_rows"] = statistics.median(state_rows) if state_rows else 0
        out["streaming.state_mb"] = statistics.median(state_mb) if state_mb else 0.0
        out["streaming.rows_dropped_by_watermark"] = dropped
        out["streaming.state_ms"] = statistics.median(state_ms)
        out["streaming.accounted_share"] = statistics.median(accounted)
        return out

    def _chunk_spans(self, chunk: dict, recs: list[dict]) -> None:
        root = self.span("chunk", chunk["start"], chunk["end"], chunk["index"])
        for r in recs:
            t = _epoch(r["timestamp"])
            d = r["durations"]
            b = self.span(f"batch {r['batch']}", t, t + d.get("triggerExecution", 0) / 1000,
                          chunk["index"], root)
            for part in BATCH_PARTS:
                if part in d:
                    self.span(part, t, t + d[part] / 1000, chunk["index"], b)
                    t += d[part] / 1000

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "progress": list(self.progress.values())}, fh)
