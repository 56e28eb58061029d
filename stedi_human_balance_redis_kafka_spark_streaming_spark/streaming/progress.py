"""Streaming progress as JSON lines.

``stedi-app`` registers :class:`JsonProgressListener` before its query
starts, so a running job reports each micro-batch on stderr:

    {"batchId": 3, "numInputRows": 350, "durationMs": {...},
     "stateOperators": [{"numRowsTotal": 1150, "commitTimeMs": 12,
                         "numStateStoreInstances": 2,
                         "rocksdbChangeLogWriterCommitLatencyMs": 3,
                         "rocksdbCommitFileSyncLatencyMs": 4}]}

The two ``rocksdb*`` fields are the RocksDB state store's custom metrics
(most of a state commit is the changelog write); an operator on the
HDFS-backed store reports neither.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql.streaming import StreamingQueryListener

_STATE_FIELDS = ("numRowsTotal", "commitTimeMs", "numStateStoreInstances")
_ROCKSDB_FIELDS = (
    "rocksdbChangeLogWriterCommitLatencyMs",
    "rocksdbCommitFileSyncLatencyMs",
)


def progress_record(progress: dict) -> dict:
    """The reported subset of one ``StreamingQueryProgress`` JSON dict."""
    return {
        "batchId": progress["batchId"],
        "numInputRows": progress["numInputRows"],
        "durationMs": progress["durationMs"],
        "stateOperators": [_state_record(op) for op in progress["stateOperators"]],
    }


def _state_record(op: dict) -> dict:
    custom = op.get("customMetrics", {})
    return {
        **{k: op[k] for k in _STATE_FIELDS},
        **{k: custom[k] for k in _ROCKSDB_FIELDS if k in custom},
    }


class JsonProgressListener(StreamingQueryListener):
    """Write one JSON line per query progress event to stderr."""

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        record = progress_record(json.loads(event.progress.json))
        print(json.dumps(record), file=sys.stderr, flush=True)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
