"""Ingest-time index-build cache (shared by trained k-means centroids,
PQ codebooks, BPE merge tables, the verified near-dup pair graphs, the
IVF/PQ/SQ8 corpus encodings and the ANN ground-truth sets).

Index TRAINING / pair-graph VERIFICATION is an ingest-time build step,
not a per-query cost: a production system builds these artifacts once
when the corpus is (re)ingested and every query reads the built result.
Every build routed through here is fully deterministic (integer k-means,
fixed iters/seeds, exact-integer Jaccard), so cached rows are
bit-identical to rebuilding — correctness is unaffected, only the
redundant rebuild is skipped.  Entries are keyed by an explicit
caller-provided corpus key (which should embed a data fingerprint —
``sources.files.table_fingerprint`` — so a regenerated corpus at the
same path can never be served a stale artifact) plus every build
parameter.

Two entry points carry the whole policy; call sites state only a key,
the schema of the artifact and how to build it:

* :func:`cached` ``(key, schema, build)`` — the ROW tier, for
  kilobyte-sized artifacts (pair sets, bucket maps, encodings, truth
  sets).  A hit rehydrates the stored rows.  A miss runs ``build()``
  inside ``session.owned()`` and collects at most ``MAX_ROWS + 1`` rows
  (a LIMIT-gated collect, never an unbounded driver materialization):

  - under the cap the rows are stored, the blocks the build persisted
    or checkpointed are released at once (the rehydrated result no
    longer reads them) and the rehydrated rows are returned;
  - over the cap nothing is stored, the build's blocks are handed to
    the caller's scope with ``session.hold`` and the live distributed
    frame is returned — the 100 TB-safe degradation.

* :func:`cached_frame` ``(spark, key, schema, build)`` — the FRAME
  tier, for CORPUS-shaped artifacts: a hit reads the stored parquet
  directory; a miss writes ``build()`` there BY SPARK (executor-side,
  no driver collect) and serves the re-read frame, or serves the live
  frame when the tier is disabled or the write failed.

Storage:

* **Memory** — an LRU-bounded ``OrderedDict`` (``MAX_ENTRIES``): a
  long-lived session training over many corpora evicts its oldest
  builds instead of growing without bound.
* **Disk** — each row entry is also written as a small Parquet file
  under the Spark-conventional warehouse location
  ``$PWD/spark-warehouse/buildcache/`` (override with
  ``$SPARK_GRAFT_BUILDCACHE_DIR``; set it to the empty string to
  disable the tier).  This is the production contract: ingest builds
  once, every later JOB — not just every later query in one process —
  reads the built artifact.  A cold session's first lookup loads the
  Parquet entry back into the memory LRU instead of retraining.
  Filenames are the sha256 of the full key; the exact key repr is
  stored in the Parquet schema metadata and verified on read, so a
  hash collision or a regenerated corpus (different fingerprint ⇒
  different key ⇒ different file) can never serve a wrong artifact.
  Writes are atomic (tmp + rename) and best-effort: an unwritable
  warehouse degrades to memory-only, never to an error.
* **Frames** — parquet directories written by Spark under
  ``<dir>/frames/`` (:func:`store_frame` / :func:`lookup_frame`).  Same
  key contract (fingerprint + params + version token, verified via a
  ``_KEY`` sidecar on read), same best-effort degradation.

Builds that end in driver-held rows rather than a frame (k-means
centroids, PQ codebooks, BPE merges, the louvain shard map) call
:func:`lookup` / :func:`store` themselves: their miss serves the frame
the build already made, which :func:`cached` would re-collect through a
Spark job and replace with a differently-planned LocalRelation.

``invalidate()`` clears every tier (tests, corpus rewrites within one
process when a fingerprint is not practical).
"""

from __future__ import annotations

import hashlib
import os
from collections import OrderedDict

from ..session import hold, owned

MAX_ENTRIES = 32

# Driver-side row cap for one cached build.  Build artifacts (centroids,
# codebooks, bucket maps, near-dup pair sets: sf0.1 has ~10² pairs for
# 5k docs) are orders of magnitude smaller than the corpus; ``cached``
# collects at most MAX_ROWS + 1 rows, so a pathological corpus degrades
# to the live distributed plan instead of an unbounded driver
# materialization.
MAX_ROWS = 250_000

INDEX_BUILD_CACHE: "OrderedDict[tuple, list[tuple]]" = OrderedDict()

_KEY_META = b"buildcache_key"
_CORPUS_META = b"buildcache_corpus"


def _disk_dir() -> str | None:
    """Disk-tier directory, or None when the tier is disabled (env set
    to the empty string).  Defaults to the Spark-conventional warehouse
    path under the current working directory — the same resolution rule
    as Spark's own ``spark.sql.warehouse.dir`` default."""
    d = os.environ.get("SPARK_GRAFT_BUILDCACHE_DIR")
    if d is not None:
        return d or None
    return os.path.join(os.getcwd(), "spark-warehouse", "buildcache")


def _path(d: str, key: tuple) -> str:
    h = hashlib.sha256(repr(key).encode()).hexdigest()[:40]
    return os.path.join(d, f"{h}.parquet")


def _rows_to_disk(d: str, key: tuple, rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows)) if rows else []
    table = pa.table(
        {f"c{i}": pa.array(list(c)) for i, c in enumerate(cols)}
    )
    table = table.replace_schema_metadata(
        {
            _KEY_META: repr(key).encode(),
            _CORPUS_META: repr(key[1]).encode() if len(key) > 1 else b"",
        }
    )
    os.makedirs(d, exist_ok=True)
    tmp = _path(d, key) + f".tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, _path(d, key))


def _rows_from_disk(d: str, key: tuple) -> list[tuple] | None:
    import pyarrow.parquet as pq

    path = _path(d, key)
    if not os.path.exists(path):
        return None
    table = pq.read_table(path)
    meta = table.schema.metadata or {}
    if meta.get(_KEY_META) != repr(key).encode():
        return None  # collision / corruption guard — treat as a miss
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    if not cols:
        return []
    return [tuple(vals) for vals in zip(*cols)]


def lookup(key: tuple) -> list[tuple] | None:
    """Return the cached rows for ``key`` (refreshing its LRU position),
    consulting memory first, then the Parquet warehouse tier (a disk
    hit is promoted into the memory LRU); None on a full miss."""
    rows = INDEX_BUILD_CACHE.get(key)
    if rows is not None:
        INDEX_BUILD_CACHE.move_to_end(key)
        return rows
    d = _disk_dir()
    if d is None:
        return None
    try:
        rows = _rows_from_disk(d, key)
    except Exception:
        return None  # unreadable entry == miss; the build recreates it
    if rows is not None:
        _store_memory(key, rows)
    return rows


def _store_memory(key: tuple, rows: list[tuple]) -> None:
    INDEX_BUILD_CACHE[key] = rows
    INDEX_BUILD_CACHE.move_to_end(key)
    while len(INDEX_BUILD_CACHE) > MAX_ENTRIES:
        INDEX_BUILD_CACHE.popitem(last=False)


def store(key: tuple, rows: list[tuple]) -> None:
    """Insert ``rows`` under ``key`` in the memory LRU (evicting beyond
    ``MAX_ENTRIES``) and persist them to the warehouse tier
    (best-effort atomic Parquet write)."""
    _store_memory(key, rows)
    d = _disk_dir()
    if d is None:
        return
    try:
        _rows_to_disk(d, key, rows)
    except Exception:
        pass  # memory tier still holds the entry; disk is an optimization


def rehydrate(spark, rows: list[tuple], schema):
    """Materialize cached rows as a DataFrame through ONE Arrow batch.

    The plain ``createDataFrame(list-of-tuples)`` path converts every
    value through Py4J row-by-row — measured ~4.6 s for a 2,000×65
    int64 frame at sf0.1, which made cache HITS pay more than the
    plans they skipped.  Routing the same rows through a
    ``pyarrow.Table`` (column-wise, zero-copy into the JVM) cuts that
    to ~0.3 s.  Values are unchanged: Spark casts the Arrow columns to
    the exact target schema (the same cast the row path applies), and
    any Arrow inference failure (exotic cached value type) falls back
    to the plain row path rather than erroring.
    """
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if rows:
        try:
            import pyarrow as pa

            cols = list(zip(*rows))
            table = pa.table(
                {
                    f.name: pa.array(list(c))
                    for f, c in zip(st.fields, cols)
                }
            )
            return spark.createDataFrame(table, schema=st)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema=st)


def _frame_dir(d: str, key: tuple) -> str:
    h = hashlib.sha256(repr(key).encode()).hexdigest()[:40]
    return os.path.join(d, "frames", h)


def store_frame(key: tuple, df):
    """FRAME tier (r18): persist a CORPUS-SHAPED build artifact as a
    parquet directory written BY SPARK — executor-side, no driver
    collect, so the tier is honest at 100 TB (materializing an
    ingest-time derived corpus once is exactly what a production
    pipeline does; the row tiers above are for kilobyte model
    artifacts and would need an unbounded ``collect`` here).  The key
    contract is the row tiers': an explicit caller key embedding a
    data fingerprint plus every build parameter AND an algorithm
    version token; the exact key repr is stored in a ``_KEY`` sidecar
    inside the directory (underscore-prefixed, so Spark's scan
    ignores it) and verified on read.  Writes go to a tmp directory
    and are renamed into place (atomic on one filesystem); any
    failure degrades to returning None — the caller keeps its live
    frame, never an error.

    Returns the RE-READ DataFrame on success (so the storing query
    itself serves from the materialized artifact and is plan-identical
    to every warm consumer), or None when the tier is disabled or the
    write failed."""
    import json as _json
    import shutil

    d = _disk_dir()
    if d is None:
        return None
    target = _frame_dir(d, key)
    tmp = target + f".tmp.{os.getpid()}"
    try:
        df.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_KEY"), "w") as f:
            _json.dump(
                {
                    "key": repr(key),
                    "corpus": repr(key[1]) if len(key) > 1 else "",
                },
                f,
            )
        if os.path.isdir(target):
            shutil.rmtree(target, ignore_errors=True)
        os.replace(tmp, target)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        return None
    return _read_frame(df.sparkSession, target, df.schema)


def _read_frame(spark, target: str, schema):
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    return spark.read.schema(st).parquet(target)


def lookup_frame(spark, key: tuple, schema):
    """Return the frame-tier DataFrame for ``key`` (schema enforced —
    the caller states the exact build schema, so a cached read is
    column-for-column what the live build would produce), or None on a
    miss, a key mismatch, or an unreadable entry."""
    import json as _json

    d = _disk_dir()
    if d is None:
        return None
    target = _frame_dir(d, key)
    try:
        with open(os.path.join(target, "_KEY")) as f:
            meta = _json.load(f)
        if meta.get("key") != repr(key):
            return None  # collision / corruption guard — a miss
        return _read_frame(spark, target, schema)
    except Exception:
        return None


def invalidate(prefix: str | None = None) -> int:
    """Drop every entry (or only those whose corpus key — element [1] of
    the key tuple — equals ``prefix``) from BOTH tiers.  Returns the
    number of distinct keys evicted."""
    evicted: set[bytes] = set()
    if prefix is None:
        mem_victims = list(INDEX_BUILD_CACHE)
    else:
        mem_victims = [
            k for k in INDEX_BUILD_CACHE if len(k) > 1 and k[1] == prefix
        ]
    for k in mem_victims:
        evicted.add(repr(k).encode())
        del INDEX_BUILD_CACHE[k]
    d = _disk_dir()
    if d is not None and os.path.isdir(d):
        import pyarrow.parquet as pq

        want = None if prefix is None else repr(prefix).encode()
        for fn in os.listdir(d):
            if not fn.endswith(".parquet"):
                continue
            path = os.path.join(d, fn)
            try:
                meta = pq.read_schema(path).metadata or {}
            except Exception:
                continue
            if want is not None and meta.get(_CORPUS_META) != want:
                continue
            try:
                os.remove(path)
            except OSError:
                continue
            evicted.add(meta.get(_KEY_META, fn.encode()))
    frames = None if d is None else os.path.join(d, "frames")
    if frames is not None and os.path.isdir(frames):
        import json as _json
        import shutil

        for fn in os.listdir(frames):
            path = os.path.join(frames, fn)
            try:
                with open(os.path.join(path, "_KEY")) as f:
                    meta = _json.load(f)
            except Exception:
                continue
            if prefix is not None and meta.get("corpus") != repr(prefix):
                continue
            shutil.rmtree(path, ignore_errors=True)
            evicted.add(meta.get("key", fn).encode())
    return len(evicted)


def cached(key: tuple, schema, build):
    """The row tier's one entry point (see the module docstring): the
    stored rows of ``key`` as a frame of ``schema``, else ``build()``'s
    result — stored and rehydrated when it fits under ``MAX_ROWS``, the
    live frame (its blocks held in the caller's scope) when it does
    not."""
    from pyspark.sql import SparkSession

    rows = lookup(key)
    if rows is not None:
        return rehydrate(SparkSession.active(), rows, schema)
    with owned() as blocks:
        live = build()
        got = live.limit(MAX_ROWS + 1).collect()
    if len(got) > MAX_ROWS:
        if blocks:
            hold(*blocks)
        return live
    for b in blocks:
        b.unpersist(False)
    rows = [tuple(r) for r in got]
    store(key, rows)
    return rehydrate(live.sparkSession, rows, schema)


def cached_frame(spark, key: tuple, schema, build):
    """The frame tier's one entry point (see the module docstring): the
    stored parquet artifact of ``key`` read as ``schema``, else
    ``build()`` written to the tier and re-read, else (tier off or the
    write failed) the live frame."""
    hit = lookup_frame(spark, key, schema)
    if hit is not None:
        return hit
    live = build()
    stored = store_frame(key, live)
    return live if stored is None else stored
