"""Streaming progress as JSON lines.

``stedi-app`` registers :class:`JsonProgressListener` before its query
starts, so a running job reports each micro-batch on stderr:

    {"batchId": 3, "numInputRows": 350, "durationMs": {...},
     "stateOperators": [{"numRowsTotal": 1150, "commitTimeMs": 12,
                         "numStateStoreInstances": 2}]}
"""

from __future__ import annotations

import json
import sys

from pyspark.sql.streaming import StreamingQueryListener

_STATE_FIELDS = ("numRowsTotal", "commitTimeMs", "numStateStoreInstances")


def progress_record(progress: dict) -> dict:
    """The reported subset of one ``StreamingQueryProgress`` JSON dict."""
    return {
        "batchId": progress["batchId"],
        "numInputRows": progress["numInputRows"],
        "durationMs": progress["durationMs"],
        "stateOperators": [
            {k: op[k] for k in _STATE_FIELDS} for op in progress["stateOperators"]
        ],
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
